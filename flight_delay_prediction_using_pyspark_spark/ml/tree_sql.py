"""Decision-tree → SQL transpilation: export a fitted MLlib
DecisionTreeRegressionModel as a pure Catalyst CASE-cascade
expression over the raw feature columns.

Why this is a first-class scale capability: MLlib inference drags the
assembler + model transform through a non-codegen path per batch; a
transpiled tree is a single whole-stage-codegen expression — scoring
100 TB becomes an ordinary projection (pushdown-friendly, usable in
SQL views, streaming selects, and engines that never load MLlib).
The tree is depth-bounded, so the expression is small (2^depth leaf
literals) and driver-resident — the same bounded-artifact rule as the
tokenizer merge lists.

One walk of the JVM tree: `tree_to_arrays(model)` flattens a fitted
tree over py4j into preorder arrays, and every other reader takes
those arrays, so a caller walks each model once (forest_to_sql_expr
flattens each member tree once). The py4j walk costs 0.4-1.1 s at
1,642 leaves; building the CASE text from the arrays, milliseconds.

Exactness contract: MLlib continuous splits route `value <= threshold`
and leaves emit constant predictions; the generated SQL uses the
identical comparison on the identical double (Python repr emits the
shortest round-tripping decimal; Spark's `<digits>D` literal parses it
back to the same IEEE double), so transpiled scores are BIT-EQUAL to
model.transform, verified by the `ml_tree_sql_scoring_parity` query's
oracle-pinned zero-mismatch count.

Scope: continuous (numeric) splits only — categorical features should
be one-hot-encoded upstream (each one-hot slot is a continuous 0/1
split); a raw CategoricalSplit raises rather than mistranslating.

MEASURED codegen ceilings (Spark 4.1.2 / janino, local probe at the
reference's own maxDepth=15 / maxBins=60 config — round-9 mandate):

  leaves   whole-stage codegen      split-method expr codegen
     256   compiles (17.8 KB meth)  compiles
     978   FAILS ("64 KB")          compiles
  12,741   FAILS ("64 KB")          compiles (no constant-pool limit hit)

- A single CASE cascade cannot be method-split INSIDE whole-stage
  codegen (operator inputs are local variables, not an accessible
  row), so one generated method crosses janino's 64 KB bytecode limit
  somewhere between 256 and ~940 leaves (≈70 B bytecode/leaf) and
  WholeStageCodegenExec SILENTLY falls back. The fallback itself is
  the expensive part: default mode still ATTEMPTS the doomed compile
  — measured 19 s on the 7.5 MB source a 12,741-leaf projection
  generates — on every plan materialization (every streaming batch).
- OUTSIDE whole-stage, UnsafeProjection codegen splits the cascade
  into many small methods and compiled at every size probed through
  12,741 leaves (factoryMode=CODEGEN_ONLY executes), so scoring never
  degrades to row-interpreted eval; it "only" loses fusion with the
  surrounding operators plus the doomed-compile tax.
- Driver-side ANTLR parsing is its own ceiling: a ~285k-char
  expression OOM'd a default 1 GiB driver heap (deeply nested CASE),
  while ~1.1M chars parsed under a 16 GiB heap. The bare `D`-suffix
  literals keep the emitted string roughly half the CAST('…') form.

Strategy (scoring_strategy): at or under WHOLESTAGE_SAFE_LEAVES the
plain expression is optimal (fused whole-stage projection); above it,
score through the vectorized-Arrow path (tree_to_arrays +
vectorized_tree_scorer — a pandas UDF traversing the flattened tree
with numpy gathers, one vectorized level per depth step), which keeps
the artifact out of the SQL text entirely: no doomed compile, no
parser heap, bit-equal doubles (numpy `<=` on float64 is the same
IEEE compare MLlib routes on). Verified by
`ml_tree_sql_depth15_parity` (oracle-pinned zero mismatches for BOTH
paths at the reference config) and the measured-tier pytest.
"""

from __future__ import annotations

from collections.abc import Sequence

#: Leaf count at which the transpiled CASE still compiles INSIDE
#: whole-stage codegen (measured: ok at 256 leaves with a 17.8 KB
#: generated method ≈ 70 B/leaf → the 64 KB janino method limit lands
#: near ~940; the next probed tier, 978 leaves, fails). Kept
#: conservative at one power of two below the computed edge.
WHOLESTAGE_SAFE_LEAVES = 512


def _quote_ident(col: str) -> str:
    """Backtick-quote a column identifier for interpolation into
    generated SQL: a feature named `dep delay`, `a.b`, or `order`
    would otherwise produce invalid or misresolving expressions.
    Embedded backticks double, per Spark's quoting rule."""
    return "`" + col.replace("`", "``") + "`"


def _dlit(x: float) -> str:
    """Bare Spark SQL DOUBLE literal: `<repr>D`. Python repr emits the
    shortest decimal that round-trips to the same IEEE-754 double, and
    Spark parses the `D` suffix with Double.parseDouble — bit-exact,
    and ~half the characters of the CAST('…' AS DOUBLE) form (the
    emitted string's size is a real ceiling: see the module
    docstring's parser-heap measurement)."""
    return f"{x!r}D"


def tree_to_arrays(model) -> dict[str, list]:
    """Flatten a fitted tree into parallel arrays (preorder, root at
    0): feat[i] (-1 for leaves), thr[i], left[i]/right[i] (child
    indices, -1 for leaves), pred[i]. The ONLY walk of the JVM tree —
    one py4j round-trip per node per getter, 0.4-1.1 s at 1,642 leaves
    — so a caller flattens each model once and every reader here
    (tree_to_case_expr, count_leaves, scoring_strategy,
    vectorized_tree_scorer) takes the arrays. They are plain Python
    lists, so the vectorized scorer's pandas UDF stays
    self-contained (no module references; executors under a foreign
    cwd can't import the repo)."""
    feat: list[int] = []
    thr: list[float] = []
    left: list[int] = []
    right: list[int] = []
    pred: list[float] = []

    def walk(node) -> int:
        i = len(feat)
        left.append(-1)
        right.append(-1)
        if "LeafNode" in node.getClass().getSimpleName():
            feat.append(-1)
            thr.append(0.0)
            pred.append(node.prediction())
            return i
        split = node.split()
        if split.getClass().getSimpleName() != "ContinuousSplit":
            raise NotImplementedError(
                "tree_to_arrays translates continuous splits only; "
                "one-hot categoricals upstream (see module docstring)"
            )
        feat.append(split.featureIndex())
        thr.append(split.threshold())
        pred.append(0.0)
        left[i] = walk(node.leftChild())
        right[i] = walk(node.rightChild())
        return i

    walk(model._call_java("rootNode"))
    return {"feat": feat, "thr": thr, "left": left, "right": right, "pred": pred}


def tree_to_case_expr(arrays: dict[str, list], feature_cols: Sequence[str]) -> str:
    """Flattened tree (tree_to_arrays) → a Spark SQL expression string
    over `feature_cols` (the assembler inputs, in assembly order). A
    single-leaf tree is a bare literal."""
    feat, thr = arrays["feat"], arrays["thr"]
    left, right, pred = arrays["left"], arrays["right"], arrays["pred"]

    def walk(i: int) -> str:
        if feat[i] < 0:
            return _dlit(pred[i])
        col = _quote_ident(feature_cols[feat[i]])
        return (
            f"(CASE WHEN {col} <= {_dlit(thr[i])} "
            f"THEN {walk(left[i])} "
            f"ELSE {walk(right[i])} END)"
        )

    return walk(0)


def count_leaves(arrays: dict[str, list]) -> int:
    """Leaf count of a flattened tree (2·splits+1 for binary trees) —
    bounded by 2^maxDepth, the size witness for the transpiled
    expression."""
    return sum(f < 0 for f in arrays["feat"])


def forest_to_sql_expr(model, feature_cols: Sequence[str]) -> str:
    """Fitted tree-ensemble regressor → one SQL expression.

    RandomForestRegressionModel averages unweighted member trees;
    GBTRegressionModel sums weight·tree (MLlib evaluates the member
    predictions sequentially, so a left-fold sum in tree order
    reproduces the ensemble's double BIT-EXACTLY — verified by the
    parity query's oracle-pinned zero-mismatch counts for both
    families). The expression stays a bounded artifact:
    n_trees · 2^depth leaf literals."""
    trees = model.trees
    weights = list(model.treeWeights)
    cls = model.__class__.__name__
    exprs = [tree_to_case_expr(tree_to_arrays(t), feature_cols) for t in trees]
    if cls.startswith("RandomForest"):
        return f"(({' + '.join(exprs)}) / CAST({len(trees)} AS DOUBLE))"
    terms = " + ".join(f"({_dlit(w)} * {e})" for e, w in zip(exprs, weights))
    return f"({terms})"


def scoring_strategy(arrays: dict[str, list]) -> str:
    """'expression' when the transpiled tree stays inside whole-stage
    codegen (leaves <= WHOLESTAGE_SAFE_LEAVES, the measured janino
    ceiling), else 'vectorized' — route scoring through
    vectorized_tree_scorer to skip the doomed whole-stage compile
    (measured: 19 s per plan materialization at 12,741 leaves) and the
    driver-side parse of a megabyte expression string."""
    return (
        "expression"
        if count_leaves(arrays) <= WHOLESTAGE_SAFE_LEAVES
        else "vectorized"
    )


def wholestage_compiles(df) -> tuple[bool, int]:
    """Measure — don't assume — whether a frame's executed plan stays
    in whole-stage codegen: doCodeGen + janino-compile every
    WholeStageCodegenExec subtree (requires AQE off or a plan simple
    enough that AQE doesn't wrap it; pure projections qualify).
    Returns (all_compiled_within_method_limit, n_subtrees). The janino
    compile here is the SAME work Spark does lazily at first
    execution, so probing a doomed plan costs one failed compile —
    probe small representatives, not the 12k-leaf giant (module
    docstring table)."""
    jvm = df.sparkSession._jvm
    huge = int(
        df.sparkSession.conf.get("spark.sql.codegen.hugeMethodLimit", "65535")
    )
    plan = df._jdf.queryExecution().executedPlan()
    ok, n = True, 0

    def walk(node):
        nonlocal ok, n
        if "WholeStageCodegen" in node.getClass().getSimpleName():
            n += 1
            src = node.doCodeGen()._2()
            try:
                compiled = (
                    jvm.org.apache.spark.sql.catalyst.expressions.codegen
                    .CodeGenerator.compile(src)
                )
                if compiled._2().maxMethodCodeSize() > huge:
                    ok = False
            except Exception:
                ok = False
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return ok, n


def vectorized_tree_scorer(arrays: dict[str, list]):
    """Arrow-vectorized scoring kernel for trees ABOVE the whole-stage
    ceiling: a pandas UDF over the raw feature columns that walks the
    flattened tree one LEVEL per step with numpy gathers — the whole
    batch advances together, so cost is O(depth) vectorized ops per
    batch, not O(depth) branches per row. Bit-equal to
    model.transform: numpy float64 `<=` is the same IEEE comparison
    MLlib routes on, and predictions are copied doubles. The tree
    artifact rides the closure (bounded by leaf count — the same
    bounded-artifact rule as the tokenizer inventories), so scoring
    100 TB is a map-only projection with no SQL text to parse or
    compile."""
    from pyspark.sql.functions import pandas_udf

    tree = {k: list(v) for k, v in arrays.items()}

    @pandas_udf("double")
    def score(*cols):
        import numpy as np
        import pandas as pd

        feat, left, right = (
            np.asarray(tree[k], dtype=np.int64) for k in ("feat", "left", "right")
        )
        thr, pred = (np.asarray(tree[k], dtype=np.float64) for k in ("thr", "pred"))
        X = np.column_stack(
            [c.to_numpy(dtype=np.float64, copy=False) for c in cols]
        )
        node = np.zeros(len(X), dtype=np.int64)
        while True:
            f = feat[node]
            active = np.flatnonzero(f >= 0)
            if active.size == 0:
                break
            fa = f[active]
            go_left = X[active, fa] <= thr[node[active]]
            node[active] = np.where(
                go_left, left[node[active]], right[node[active]]
            )
        return pd.Series(pred[node])

    return score
