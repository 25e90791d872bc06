"""Certified trainable models: iterative ML with exact cross-engine oracles.

Third member of the repo's certified-iterative-ML family (k-means —
similarity.py `_KMEANS_CTE`; PCA — pca.py): a full-batch LOGISTIC
REGRESSION trained inside the engine, hash-checked end to end against a
DuckDB oracle that unrolls the identical gradient steps.

Why this is certifiable at all (the usual blockers, and their devices):

- **exp() is not portable.** Different libm implementations round
  exp()/log() differently, so the textbook sigmoid would diverge across
  engines by ulps that compound over training steps. The link here is
  the RATIONAL sigmoid σ̃(z) = 0.5 + z/(2(1+|z|)) — only +,−,×,÷,|·|,
  all IEEE-exact given identical operand order. Same monotone S-shape,
  same 0.5 decision point; a standard fast-sigmoid substitution.
- **Float sums over data rows are order-dependent.** Per-row gradient
  contributions quantize to integer nano-units (floor(g·1e9 + 0.5) as
  BIGINT) BEFORE aggregation, so Spark's shuffled partial sums and
  DuckDB's sequential fold produce the same integer — the repo's
  integer-cents discipline applied to calculus.
- **Float weight state would drift.** Weights live as INTEGER
  micro-units; each update re-quantizes (w ← w − floor(G/(n·1000) +
  0.5)), so every step starts from integers on both engines — the
  k-means/PCA iterate discipline.
- **Feature extraction must be bit-identical.** Features use only
  length()/replace() string primitives (identical semantics in Spark,
  DuckDB, and the SQL standard — no regex dialect gaps) and fixed-order
  arithmetic over exact integer counts.

Scale shape: one cached row-local feature projection over the corpus;
each training step is a single whole-stage-codegen aggregate (map-side
partials, 8 BIGINT sums crossing the wire per partition); the weight
state is 8 integers on the driver. At 100 TB: T scans of the feature
columns (or one scan if features persist), zero shuffles beyond the
final 8-value aggregate — the textbook full-batch GD layout. The
reference (bobvawter/cdc-pubsub, 479 Go LoC) has no analytics surface;
this belongs to the SURVEY §2.B-adjacent LLM-pipeline family (quality
classification is the canonical pretraining gating model, cf. the
fasttext/CCNet filters this corpus's text ops emulate).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import load

_T_STEPS = 24
_LR = "8e0"
_NANO = "1000000000"
_MICRO = "1000000"

# Feature SQL, identical text on both engines (length/replace only).
# b.* columns: text, tlen (length), the_cnt, val_cnt, wcnt.
_PREP = (
    "SELECT text, length(text) AS tlen,"
    " (length(text) - length(replace(text, 'the', ''))) / 3 AS the_cnt,"
    " (length(text) - length(replace(text, 'value', ''))) / 5 AS val_cnt,"
    " length(text) - length(replace(text, ' ', '')) + 1 AS wcnt"
    " FROM documents"
)

_X = [
    "1e0",
    "CAST(tlen AS DOUBLE) / 400e0",
    "CAST(wcnt AS DOUBLE) / 100e0",
    "CAST(the_cnt AS DOUBLE) * 20e0 / CAST(tlen AS DOUBLE)",
    "CAST(val_cnt AS DOUBLE) * 20e0 / CAST(tlen AS DOUBLE)",
    "CAST(tlen AS DOUBLE) / CAST(wcnt AS DOUBLE) / 8e0",
    # Interaction features: the keep-rule is an AND of two thresholds,
    # which no purely linear boundary separates — the raw count and the
    # length x count cross lift accuracy from ~0.84 to ~0.94.
    "CAST(the_cnt AS DOUBLE) / 5e0",
    "CAST(tlen AS DOUBLE) / 400e0 * (CAST(the_cnt AS DOUBLE) / 5e0)",
]
_NF = len(_X)

_Y = "CASE WHEN tlen >= 280 AND the_cnt >= 2 THEN 1e0 ELSE 0e0 END"

_FEAT_COLS = ", ".join(
    [f"{x} AS x{j}" for j, x in enumerate(_X)] + [f"{_Y} AS y"]
)


def _z_expr(wref: list[str]) -> str:
    """Fixed-order score: w0/1e6·x0 + … + w7/1e6·x7 (left-associated)."""
    return " + ".join(
        f"CAST({wref[j]} AS DOUBLE) / {_MICRO}e0 * x{j}" for j in range(_NF)
    )


_P_EXPR = "0.5e0 + z / (2e0 * (1e0 + abs(z)))"


def _grad_sums() -> str:
    """Per-feature exact integer gradient sums over nano-quantized row terms."""
    return ", ".join(
        f"CAST(sum(CAST(floor((p - y) * x{j} * {_NANO}e0 + 0.5e0)"
        f" AS BIGINT)) AS BIGINT) AS g{j}"
        for j in range(_NF)
    )


def _update_cols(wref: str, gref: str, nref: str) -> str:
    """w ← w − floor(G/(n·1000) + 0.5), staying in integer micro-units."""
    return ", ".join(
        f"{wref}.w{j} - CAST(floor({_LR} * CAST({gref}.g{j} AS DOUBLE)"
        f" / (CAST({nref}.n AS DOUBLE) * 1000e0) + 0.5e0) AS BIGINT) AS w{j}"
        for j in range(_NF)
    )


def logreg_oracle_sql() -> str:
    """Unrolled T-step training + confusion-matrix scoring, one query."""
    parts = [
        f"""
    feat AS MATERIALIZED (
      SELECT {_FEAT_COLS} FROM ({_PREP}) b
    ),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
    wt_0 AS MATERIALIZED (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(_NF))})"""
    ]
    for t in range(1, _T_STEPS + 1):
        wref = [f"w.w{j}" for j in range(_NF)]
        parts.append(
            f"""
    gr_{t} AS MATERIALIZED (
      SELECT {_grad_sums()}
      FROM (SELECT pp.*, {_P_EXPR} AS p
            FROM (SELECT f.*, {_z_expr(wref)} AS z
                  FROM feat f CROSS JOIN wt_{t - 1} w) pp) qq
    ),
    wt_{t} AS MATERIALIZED (
      SELECT {_update_cols("w", "g", "nn")}
      FROM wt_{t - 1} w CROSS JOIN gr_{t} g CROSS JOIN nn
    )"""
        )
    wref = [f"w.w{j}" for j in range(_NF)]
    parts.append(
        f"""
    scored AS MATERIALIZED (
      SELECT y, CASE WHEN {_P_EXPR} > 0.5e0 THEN 1e0 ELSE 0e0 END AS yhat
      FROM (SELECT pp.*, pp.z AS z2
            FROM (SELECT f.y AS y, {_z_expr(wref)} AS z
                  FROM feat f CROSS JOIN wt_{_T_STEPS} w) pp) qq
    )
    SELECT {", ".join(f"w.w{j}" for j in range(_NF))},
           CAST(count(*) FILTER (y = 1e0 AND yhat = 1e0) AS BIGINT) AS tp,
           CAST(count(*) FILTER (y = 0e0 AND yhat = 1e0) AS BIGINT) AS fp,
           CAST(count(*) FILTER (y = 1e0 AND yhat = 0e0) AS BIGINT) AS fn,
           CAST(count(*) FILTER (y = 0e0 AND yhat = 0e0) AS BIGINT) AS tn,
           floor(CAST(count(*) FILTER (y = yhat) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
             AS accuracy
    FROM scored CROSS JOIN wt_{_T_STEPS} w
    GROUP BY {", ".join(f"w.w{j}" for j in range(_NF))}"""
    )
    return "WITH" + ",".join(parts)


@register(
    "ml_logreg_quality",
    category="similarity",
    bench=False,  # T sequential tiny aggregate stages: timed cost is the
    # per-stage scheduling floor at fixture scale, not query work (the
    # graph_connected_components exclusion rationale).
    oracle=logreg_oracle_sql(),
)
def ml_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-quality LOGISTIC REGRESSION trained in-engine — 24
    full-batch gradient steps (lr = 8), rational-sigmoid link, integer-quantized
    gradients and weights — hash-certified against a DuckDB oracle that
    unrolls the identical training (module docstring has the full
    determinism argument).

    Output: the learned weight vector (integer micro-units), the
    confusion matrix against the planted keep/drop label, and accuracy.
    The label is a held-out RULE over two features (doc length ≥ 280
    chars AND ≥ 2 'the' occurrences), so the model must combine
    features to separate it — accuracy near 1 proves the optimizer
    actually descends, and the exact oracle proves both engines took
    the same path to get there.
    """
    docs = load(spark, sf_dir, "documents")
    feat = (
        docs.selectExpr(
            "text",
            "length(text) AS tlen",
            "(length(text) - length(replace(text, 'the', ''))) / 3 AS the_cnt",
            "(length(text) - length(replace(text, 'value', ''))) / 5 AS val_cnt",
            "length(text) - length(replace(text, ' ', '')) + 1 AS wcnt",
        )
        .selectExpr(*(f"{x} AS x{j}" for j, x in enumerate(_X)), f"{_Y} AS y")
        .persist()
    )
    n = feat.count()  # also materializes the persist
    wq = [0] * _NF
    for _t in range(_T_STEPS):
        wref = [str(w) for w in wq]
        z = _z_expr(wref)
        row = feat.selectExpr("*", f"{z} AS z").selectExpr(
            "*", f"{_P_EXPR} AS p"
        ).selectExpr(
            *(
                f"CAST(floor((p - y) * x{j} * {_NANO}e0 + 0.5e0) AS BIGINT)"
                f" AS gq{j}"
                for j in range(_NF)
            )
        ).groupBy().agg(
            *(F.sum(f"gq{j}").cast("bigint").alias(f"g{j}") for j in range(_NF))
        ).collect()[0]
        wq = [
            wq[j]
            - int(math.floor(8.0 * float(row[f"g{j}"]) / (float(n) * 1000.0) + 0.5))
            for j in range(_NF)
        ]
    feat.unpersist()
    wref = [str(w) for w in wq]
    scored = feat.selectExpr("y", f"{_z_expr(wref)} AS z").selectExpr(
        "y", f"CASE WHEN {_P_EXPR} > 0.5e0 THEN 1e0 ELSE 0e0 END AS yhat"
    )
    out = scored.agg(
        *(F.lit(wq[j]).cast("bigint").alias(f"w{j}") for j in range(_NF)),
        F.count(F.when((F.col("y") == 1.0) & (F.col("yhat") == 1.0), 1))
        .cast("bigint")
        .alias("tp"),
        F.count(F.when((F.col("y") == 0.0) & (F.col("yhat") == 1.0), 1))
        .cast("bigint")
        .alias("fp"),
        F.count(F.when((F.col("y") == 1.0) & (F.col("yhat") == 0.0), 1))
        .cast("bigint")
        .alias("fn"),
        F.count(F.when((F.col("y") == 0.0) & (F.col("yhat") == 0.0), 1))
        .cast("bigint")
        .alias("tn"),
        F.expr(
            "floor(CAST(count(CASE WHEN y = yhat THEN 1 END) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000"
        ).alias("accuracy"),
    )
    return out


_BPE_ROUNDS = 10


def _bpe_rewrite(sref: str, pairref: str) -> str:
    """Triple-application merge rewrite: replace ' a b ' → ' a@b '.

    SQL replace() scans left-to-right and resumes AFTER each
    replacement — identical semantics in Spark, DuckDB, and Python
    str.replace — so a run like ' a b a b a b ' leaves alternating
    survivors whose leading space was consumed by the previous match.
    Re-applying converges; three applications are a fixpoint for any
    run the corpus can hold, and both engines apply exactly three, so
    the result is bit-identical even where it is NOT yet a fixpoint.
    """
    pat = f"' ' || {pairref} || ' '"
    rep = f"' ' || replace({pairref}, ' ', '@') || ' '"
    out = sref
    for _ in range(3):
        out = f"replace({out}, {pat}, {rep})"
    return out


def bpe_oracle_sql() -> str:
    """Unrolled BPE training: per round, count adjacent token pairs,
    pick the (count DESC, pair ASC) winner, merge it corpus-wide."""
    parts = [
        """
    c0 AS MATERIALIZED (
      SELECT ' ' || trim(text) || ' ' AS s FROM documents
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f"""
    p{r} AS MATERIALIZED (
      SELECT t.tok[i.i] || ' ' || t.tok[i.i + 1] AS pair,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT string_split(trim(s), ' ') AS tok FROM c{r - 1}) t,
           LATERAL unnest(range(1, len(t.tok))) AS i(i)
      GROUP BY 1
    ),
    m{r} AS MATERIALIZED (
      SELECT pair, c FROM p{r} ORDER BY c DESC, pair LIMIT 1
    ),
    c{r} AS MATERIALIZED (
      SELECT {_bpe_rewrite("c.s", "m.pair")} AS s
      FROM c{r - 1} c CROSS JOIN m{r} m
    )"""
        )
    merges = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS merge_round, pair AS merged_pair, c AS pair_count"
        f" FROM m{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    parts.append(
        f"""
    stats AS MATERIALIZED (
      SELECT CAST(count(DISTINCT u.tok) AS BIGINT) AS vocab_size,
             CAST(count(*) AS BIGINT)              AS total_tokens
      FROM (SELECT string_split(trim(s), ' ') AS tl FROM c{_BPE_ROUNDS}) t,
           LATERAL unnest(t.tl) AS u(tok)
    )
    SELECT m.merge_round, m.merged_pair, m.pair_count,
           s.vocab_size, s.total_tokens
    FROM ({merges}) m CROSS JOIN stats s
    ORDER BY m.merge_round"""
    )
    return "WITH" + ",".join(parts)


@register(
    "corpus_bpe_train",
    category="corpus",
    bench=False,  # 10 sequential count+rewrite stages: fixture-scale cost
    # is the per-stage scheduling floor (graph_cc exclusion rationale).
    oracle=bpe_oracle_sql(),
)
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary TRAINING inside the engine: 10 rounds of
    most-frequent-adjacent-pair merging over the whole corpus — the
    tokenizer-construction algorithm every LLM pipeline runs (Sennrich
    2016; word-level pairs here, the phrase-mining variant), with an
    exact unrolled DuckDB oracle.

    Each round is (1) one corpus scan counting adjacent token pairs —
    split hoisted into its own projection (the verify-skill O(words²)
    pitfall), pairs exploded JVM-side, one count shuffle; (2) a
    deterministic winner under the total (count DESC, pair ASC) order;
    (3) a corpus-wide merge via three left-to-right replace()
    applications (identical scan-resume semantics on every engine —
    see _bpe_rewrite). Token state is the text itself, so each round
    starts from a localCheckpoint — 10 rounds never deepen the lazy
    plan. At 100 TB: pair counting is the canonical word-count shape
    (map-side partial aggregation dominates); the winner is a 1-row
    broadcast; the rewrite is row-local — per round one shuffle of the
    pair dictionary, never the corpus.

    Output: the merge table (round, pair, count-at-selection) plus the
    final vocabulary size and total token count — the artifacts a
    tokenizer build hands to the training run.
    """
    corpus = load(spark, sf_dir, "documents").selectExpr(
        "' ' || trim(text) || ' ' AS s"
    )
    corpus = corpus.localCheckpoint(eager=True)
    merges: list[tuple[int, str, int]] = []
    for r in range(1, _BPE_ROUNDS + 1):
        top = (
            corpus.selectExpr("split(trim(s), ' ') AS tok")
            # size(tok) < 2 must yield NO pairs: sequence(1, 0) DESCENDS
            # in Spark ([1, 0] — out-of-range element_at), while the
            # oracle's range(1, 1) is simply empty. Guard to an empty
            # array so explode drops the row on both engines.
            .selectExpr(
                "explode(CASE WHEN size(tok) >= 2 THEN"
                " transform(sequence(1, size(tok) - 1),"
                " bpi -> concat(element_at(tok, bpi), ' ',"
                " element_at(tok, bpi + 1))) ELSE"
                " array() END) AS pair"
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .limit(1)
            .collect()[0]
        )
        merges.append((r, top["pair"], top["c"]))
        lit = "'" + top["pair"].replace("'", "''") + "'"
        corpus = corpus.selectExpr(_bpe_rewrite("s", lit) + " AS s")
        corpus = corpus.localCheckpoint(eager=True)
    stats = (
        corpus.selectExpr("explode(split(trim(s), ' ')) AS tok")
        .agg(
            F.countDistinct("tok").cast("bigint").alias("vocab_size"),
            F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
        )
        .collect()[0]
    )
    rows = [
        (r, p, c, stats["vocab_size"], stats["total_tokens"])
        for r, p, c in merges
    ]
    return spark.createDataFrame(
        rows,
        "merge_round int, merged_pair string, pair_count bigint,"
        " vocab_size bigint, total_tokens bigint",
    ).orderBy("merge_round")


def _det3(m11, m12, m13, m21, m22, m23, m31, m32, m33):
    """Fixed-order 3×3 determinant expansion over integer moment columns.

    Emitted as identical SQL text for BOTH engines (only CASTs and
    arithmetic — no dialect-specific literals), so the IEEE evaluation
    order is pinned by the parse tree itself.
    """
    c = lambda x: f"CAST({x} AS DOUBLE)"  # noqa: E731
    return (
        f"{c(m11)} * ({c(m22)} * {c(m33)} - {c(m23)} * {c(m32)})"
        f" - {c(m12)} * ({c(m21)} * {c(m33)} - {c(m23)} * {c(m31)})"
        f" + {c(m13)} * ({c(m21)} * {c(m32)} - {c(m22)} * {c(m31)})"
    )


_LR_MOMS = """
      SELECT CAST(count(*) AS BIGINT)            AS n,
             CAST(sum(q) AS BIGINT)              AS sq,
             CAST(sum(dd) AS BIGINT)             AS sd,
             CAST(sum(q * q) AS BIGINT)          AS sqq,
             CAST(sum(q * dd) AS BIGINT)         AS sqd,
             CAST(sum(dd * dd) AS BIGINT)        AS sdd,
             CAST(sum(y) AS BIGINT)              AS sy,
             CAST(sum(q * y) AS BIGINT)          AS sqy,
             CAST(sum(dd * y) AS BIGINT)         AS sdy
      FROM rows_in
"""

_LR_W = {
    "detA": _det3("n", "sq", "sd", "sq", "sqq", "sqd", "sd", "sqd", "sdd"),
    "det0": _det3("sy", "sq", "sd", "sqy", "sqq", "sqd", "sdy", "sqd", "sdd"),
    "det1": _det3("n", "sy", "sd", "sq", "sqy", "sqd", "sd", "sdy", "sdd"),
    "det2": _det3("n", "sq", "sy", "sq", "sqq", "sqy", "sd", "sqd", "sdy"),
}

# Planted-coefficient fixture (the planted-dup-corpus discipline): the
# synthetic lineitem columns are mutually independent (corr ~ 0.003), so
# a fit against a real column would only certify that both engines agree
# on noise. Instead the target is a PLANTED linear signal with
# deterministic hash noise — the op must RECOVER the (50000, 300, 1200)
# coefficients, which the invariant test asserts, and the oracle
# restates the same construction verbatim.
_LR_ROWS_SQL = """
      SELECT l_quantity AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd,
             50000 + 300 * l_quantity
               + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
               + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 2001
               - 1000 AS y
      FROM lineitem
"""


@register(
    "ml_linreg_normal_eq",
    category="similarity",
    oracle=f"""
    WITH rows_in AS MATERIALIZED ({_LR_ROWS_SQL}),
    mom AS MATERIALIZED ({_LR_MOMS}),
    wts AS MATERIALIZED (
      SELECT n, sy,
             ({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0,
             ({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1,
             ({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2
      FROM mom
    ),
    resid AS MATERIALIZED (
      SELECT CAST(sum(rq * rq) AS BIGINT) AS sse,
             CAST(sum(sv * sv) AS BIGINT) AS sst
      FROM (
        SELECT CAST(floor((CAST(r.y AS DOUBLE)
                 - (w.w0 + w.w1 * CAST(r.q AS DOUBLE)
                    + w.w2 * CAST(r.dd AS DOUBLE))) / 100 + 0.5)
               AS BIGINT) AS rq,
               CAST(floor((CAST(r.y AS DOUBLE)
                 - CAST(w.sy AS DOUBLE) / CAST(w.n AS DOUBLE)) / 100 + 0.5)
               AS BIGINT) AS sv
        FROM rows_in r CROSS JOIN wts w
      ) t
    )
    SELECT w.n AS n_rows,
           floor(w.w0 * 10000 + 0.5) / 10000 AS w_intercept_cents,
           floor(w.w1 * 10000 + 0.5) / 10000 AS w_qty_cents,
           floor(w.w2 * 10000 + 0.5) / 10000 AS w_disc_cents,
           r.sse, r.sst,
           floor((1e0 - CAST(r.sse AS DOUBLE) / CAST(r.sst AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS r2_fit
    FROM wts w CROSS JOIN resid r
    """,
)
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS by the normal equations, FULLY RELATIONAL — no
    driver loop at all: one moment aggregate, a 3×3 Cramer solve as a
    single-row projection, one residual pass. Fits
    l_extendedprice ~ quantity + discount and reports coefficients,
    SSE/SST, and R² — the closed-form sibling of the iterative
    ml_logreg_quality.

    Determinism devices: every moment (XᵀX, Xᵀy) is an EXACT BIGINT sum
    over integer-quantized columns (quantity is integral; discount and
    price enter as cents) — order-free across Spark's shuffled partials
    and DuckDB's fold; the Cramer determinants expand in a pinned
    parse-tree order over one-time int→double casts (correctly rounded
    identically on both engines); residuals re-quantize to integer
    dollars per row before the SSE/SST sums. At 100 TB: two scans of
    three columns, each a map-side-combined aggregate shuffling nine
    (then two) BIGINTs per partition — the cheapest possible
    distributed regression; d features generalize to a d²-cell moment
    aggregate with the same shape (the MLlib normal-equation solver's
    layout on the DataFrame stack).
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS q",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
        "50000 + 300 * l_quantity"
        " + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
        " + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 2001"
        " - 1000 AS y",
    )
    mom = li.selectExpr("q", "dd", "y").groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("dd").cast("bigint").alias("sd"),
        F.sum(F.expr("q * q")).cast("bigint").alias("sqq"),
        F.sum(F.expr("q * dd")).cast("bigint").alias("sqd"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("q * y")).cast("bigint").alias("sqy"),
        F.sum(F.expr("dd * y")).cast("bigint").alias("sdy"),
    )
    wts = mom.selectExpr(
        "n",
        "sy",
        f'({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0',
        f'({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1',
        f'({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2',
    )
    resid = (
        li.crossJoin(F.broadcast(wts))
        .selectExpr(
            "CAST(floor((CAST(y AS DOUBLE)"
            " - (w0 + w1 * CAST(q AS DOUBLE) + w2 * CAST(dd AS DOUBLE)))"
            " / 100 + 0.5) AS BIGINT) AS rq",
            "CAST(floor((CAST(y AS DOUBLE)"
            " - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 100 + 0.5)"
            " AS BIGINT) AS sv",
        )
        .groupBy()
        .agg(
            F.sum(F.expr("rq * rq")).cast("bigint").alias("sse"),
            F.sum(F.expr("sv * sv")).cast("bigint").alias("sst"),
        )
    )
    return wts.crossJoin(F.broadcast(resid)).selectExpr(
        "n AS n_rows",
        "floor(w0 * 10000 + 0.5) / 10000 AS w_intercept_cents",
        "floor(w1 * 10000 + 0.5) / 10000 AS w_qty_cents",
        "floor(w2 * 10000 + 0.5) / 10000 AS w_disc_cents",
        "sse",
        "sst",
        "floor((1D - CAST(sse AS DOUBLE) / CAST(sst AS DOUBLE))"
        " * 10000 + 0.5) / 10000 AS r2_fit",
    )


_GB_ROUNDS = 6
_GB_CUTS = [("q", c) for c in (4, 8, 12, 16, 20, 24, 28, 32, 36, 40, 44)] + [
    ("dd", c) for c in (1, 2, 3, 4, 5, 6, 7, 8, 9)
]

# Planted piecewise target: two genuine threshold effects + hash noise.
# OLS cannot represent it (nonlinear in both features); depth-1 boosting
# recovers the steps — the invariant test asserts the two true cuts
# (q>=25, dd>=5) are found and most variance is explained.
_GB_ROWS_SQL = """
      SELECT l_quantity AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd,
             500 + CASE WHEN l_quantity >= 25 THEN 2000 ELSE 0 END
                 + CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                        >= 5 THEN 800 ELSE 0 END
                 + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 201
                 - 100 AS y
      FROM lineitem
"""


def _gb_cand_sums(res: str) -> str:
    """Per-candidate split statistics in ONE aggregate pass: left-side
    residual sum and count for every (feature, cut) candidate."""
    cols = []
    for j, (f, c) in enumerate(_GB_CUTS):
        cols.append(
            f"CAST(sum(CASE WHEN {f} <= {c} THEN {res} ELSE 0 END)"
            f" AS BIGINT) AS sl{j}"
        )
        cols.append(
            f"CAST(sum(CASE WHEN {f} <= {c} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS nl{j}"
        )
    cols.append(f"CAST(sum({res}) AS BIGINT) AS st")
    cols.append("CAST(count(*) AS BIGINT) AS nt")
    return ", ".join(cols)


_GB_SCORE = (
    "CASE WHEN nl = 0 OR nl = nt THEN -1e18 ELSE"
    " CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)"
    " + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)"
    " / CAST(nt - nl AS DOUBLE) END"
)


def _gb_unpivot(gref: str) -> str:
    """Candidate stats → (cand_id, feature, cut, sl, nl, st, nt) rows."""
    rows = []
    for j, (f, c) in enumerate(_GB_CUTS):
        rows.append(
            f"SELECT {j} AS cand, '{f}' AS f, {c} AS cut,"
            f" {gref}.sl{j} AS sl, {gref}.nl{j} AS nl,"
            f" {gref}.st AS st, {gref}.nt AS nt FROM {gref}"
        )
    return "\n      UNION ALL\n      ".join(rows)


def gbdt_oracle_sql() -> str:
    """Unrolled boosting: T rounds of (candidate scan → deterministic
    argmax split → integer leaf values at lr=1/2 → residual update)."""
    parts = [
        f"""
    rows_in AS MATERIALIZED ({_GB_ROWS_SQL}),
    mom0 AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      FROM rows_in
    ),
    r_0 AS MATERIALIZED (
      SELECT q, dd, y, y - (SELECT sy // n FROM mom0) AS res
      FROM rows_in
    )"""
    ]
    for t in range(1, _GB_ROUNDS + 1):
        parts.append(
            f"""
    g_{t} AS MATERIALIZED (
      SELECT {_gb_cand_sums("res")} FROM r_{t - 1}
    ),
    best_{t} AS MATERIALIZED (
      SELECT f, cut,
             CAST(floor(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
                        / 2e0 + 0.5e0) AS BIGINT) AS vl,
             CAST(floor(CAST(st - sl AS DOUBLE) / CAST(nt - nl AS DOUBLE)
                        / 2e0 + 0.5e0) AS BIGINT) AS vr,
             nl AS n_left, nt - nl AS n_right
      FROM ({_gb_unpivot(f"g_{t}")}) cands
      ORDER BY {_GB_SCORE} DESC, f, cut
      LIMIT 1
    ),
    r_{t} AS MATERIALIZED (
      SELECT r.q, r.dd, r.y,
             r.res - CASE WHEN (b.f = 'q' AND r.q <= b.cut)
                            OR (b.f = 'dd' AND r.dd <= b.cut)
                          THEN b.vl ELSE b.vr END AS res
      FROM r_{t - 1} r CROSS JOIN best_{t} b
    )"""
        )
    stumps = "\n      UNION ALL\n      ".join(
        f"SELECT {t} AS round, f AS feature, CAST(cut AS BIGINT) AS cut,"
        f" vl AS v_left, vr AS v_right,"
        f" CAST(n_left AS BIGINT) AS n_left,"
        f" CAST(n_right AS BIGINT) AS n_right FROM best_{t}"
        for t in range(1, _GB_ROUNDS + 1)
    )
    parts.append(
        f"""
    fit AS MATERIALIZED (
      SELECT CAST(sum(res * res) AS BIGINT) AS sse,
             CAST(sum((y - (SELECT sy // n FROM mom0))
                      * (y - (SELECT sy // n FROM mom0))) AS BIGINT) AS sst
      FROM r_{_GB_ROUNDS}
    )
    SELECT s.round, s.feature, s.cut, s.v_left, s.v_right,
           s.n_left, s.n_right, f.sse, f.sst,
           floor((1e0 - CAST(f.sse AS DOUBLE) / CAST(f.sst AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS r2_fit
    FROM ({stumps}) s CROSS JOIN fit f
    ORDER BY s.round"""
    )
    return "WITH" + ",".join(parts)


@register(
    "ml_boosted_stumps",
    category="similarity",
    bench=False,  # T sequential aggregate+rewrite stages (scheduling
    # floor at fixture scale — graph_cc exclusion rationale).
    oracle=gbdt_oracle_sql(),
)
def ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADIENT-BOOSTED STUMPS trained in-engine: 6 rounds of depth-1
    regression trees (best-threshold split from a fixed candidate grid,
    shrinkage 1/2), hash-certified against a DuckDB oracle that unrolls
    the identical boosting — the tabular-ML workhorse joining the
    certified family (k-means, PCA, logistic regression, OLS).

    Determinism devices: residual state is INTEGER CENTS throughout
    (leaf values floor-quantize at every round — the k-means/PCA
    iterate discipline), so split statistics are exact order-free
    BIGINT sums; the split score S²_L/n_L + S²_R/n_R is evaluated with
    a pinned parse-tree order over one-time int→double casts and the
    argmax carries the total (score DESC, feature, cut) tie-break —
    identical doubles ⇒ identical winner on both engines. The target
    is PLANTED PIECEWISE (steps at q≥25 and dd≥5 + hash noise): OLS
    cannot represent it, and the invariant test asserts boosting finds
    both true cuts and explains ~all variance. Scale shape per round:
    ONE whole-stage-codegen aggregate computes every candidate's
    (Σres, n) via conditional sums (38 BIGINTs per partition over the
    wire), the winner is one driver row, and the residual update is a
    row-local projection — the classic histogram-based GBDT layout
    (LightGBM's binned split search) on the DataFrame stack.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS q",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
        "500 + CASE WHEN l_quantity >= 25 THEN 2000 ELSE 0 END"
        " + CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT) >= 5"
        " THEN 800 ELSE 0 END"
        " + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 201"
        " - 100 AS y",
    )
    mom = li.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    ).collect()[0]
    f0 = mom["sy"] // mom["n"]
    cur = li.selectExpr("q", "dd", "y", f"y - {f0}L AS res").localCheckpoint(
        eager=True
    )
    sst_row = cur.groupBy().agg(
        F.sum(F.expr(f"(y - {f0}L) * (y - {f0}L)")).cast("bigint").alias("sst")
    )
    stumps = []
    for t in range(1, _GB_ROUNDS + 1):
        g = cur.selectExpr("q", "dd", "res").groupBy().agg(
            *(
                F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1])
                for e in _gb_cand_sums("res").split(", ")
            )
        ).collect()[0]
        st, nt = g["st"], g["nt"]
        best = None
        for j, (f, c) in enumerate(_GB_CUTS):
            sl, nl = g[f"sl{j}"], g[f"nl{j}"]
            if nl == 0 or nl == nt:
                score = -1e18
            else:
                score = float(sl) * float(sl) / float(nl) + float(
                    st - sl
                ) * float(st - sl) / float(nt - nl)
            key = (-score, f, c)
            if best is None or key < best[0]:
                best = (key, f, c, sl, nl)
        _, f, c, sl, nl = best
        vl = int(math.floor(float(sl) / float(nl) / 2.0 + 0.5))
        vr = int(math.floor(float(st - sl) / float(nt - nl) / 2.0 + 0.5))
        stumps.append((t, f, c, vl, vr, nl, nt - nl))
        cur = cur.selectExpr(
            "q",
            "dd",
            "y",
            f"res - CASE WHEN ({'q' if f == 'q' else 'dd'} <= {c})"
            f" THEN {vl}L ELSE {vr}L END AS res",
        ).localCheckpoint(eager=True)
    fit = (
        cur.groupBy()
        .agg(F.sum(F.expr("res * res")).cast("bigint").alias("sse"))
        .crossJoin(F.broadcast(sst_row))
        .collect()[0]
    )
    rows = [
        (
            t,
            f,
            c,
            vl,
            vr,
            nl,
            nr,
            fit["sse"],
            fit["sst"],
            math.floor(
                (1.0 - float(fit["sse"]) / float(fit["sst"])) * 10000 + 0.5
            )
            / 10000,
        )
        for t, f, c, vl, vr, nl, nr in stumps
    ]
    return spark.createDataFrame(
        rows,
        "round int, feature string, cut bigint, v_left bigint,"
        " v_right bigint, n_left bigint, n_right bigint, sse bigint,"
        " sst bigint, r2_fit double",
    ).orderBy("round")


_NB_VOCAB_K = 200
_NB_MICRO = "1000000"


@register(
    "ml_naive_bayes",
    category="similarity",
    bench=False,  # two tiny model aggregates + one scoring pass: fixture
    # cost is the scheduling floor (the trainer-family exclusion).
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    train_tok AS MATERIALIZED (
      SELECT * FROM tok WHERE doc_id % 5 != 0
    ),
    vocab AS MATERIALIZED (
      SELECT w FROM (
        SELECT w, count(*) AS n FROM train_tok GROUP BY w
        ORDER BY n DESC, w LIMIT {_NB_VOCAB_K}
      )
    ),
    vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    classes AS MATERIALIZED (
      SELECT DISTINCT lang AS c FROM documents WHERE doc_id % 5 != 0
    ),
    prior AS MATERIALIZED (
      SELECT lang AS c,
             CAST(floor(ln(CAST(count(DISTINCT doc_id) AS DOUBLE)
                  / CAST((SELECT count(DISTINCT doc_id) FROM train_tok)
                         AS DOUBLE)) * {_NB_MICRO} + 0.5) AS BIGINT)
               AS prior_q
      FROM train_tok GROUP BY lang
    ),
    cnt_wc AS MATERIALIZED (
      SELECT t.lang AS c, t.w, CAST(count(*) AS BIGINT) AS c_wc
      FROM train_tok t JOIN vocab USING (w)
      GROUP BY 1, 2
    ),
    model AS MATERIALIZED (
      SELECT cl.c, vo.w, coalesce(k.c_wc, 0) AS c_wc
      FROM classes cl CROSS JOIN vocab vo
      LEFT JOIN cnt_wc k ON k.c = cl.c AND k.w = vo.w
    ),
    tot AS MATERIALIZED (
      SELECT c, CAST(sum(c_wc) AS BIGINT) AS tot_c FROM model GROUP BY c
    ),
    model_q AS MATERIALIZED (
      SELECT m.c, m.w,
             CAST(floor(ln(CAST(m.c_wc + 1 AS DOUBLE)
                  / CAST(t.tot_c + vn.v AS DOUBLE)) * {_NB_MICRO} + 0.5)
               AS BIGINT) AS lq
      FROM model m JOIN tot t USING (c) CROSS JOIN vn
    ),
    test_wc AS MATERIALIZED (
      SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS n_dw
      FROM tok JOIN vocab USING (w)
      WHERE doc_id % 5 = 0
      GROUP BY 1, 2, 3
    ),
    contrib AS MATERIALIZED (
      SELECT t.doc_id, t.lang, m.c,
             CAST(sum(t.n_dw * m.lq) AS BIGINT) AS s
      FROM test_wc t JOIN model_q m USING (w)
      GROUP BY 1, 2, 3
    ),
    grid AS MATERIALIZED (
      SELECT d.doc_id, d.lang, cl.c,
             p.prior_q + coalesce(x.s, 0) AS score
      FROM (SELECT DISTINCT doc_id, lang FROM documents
            WHERE doc_id % 5 = 0) d
      CROSS JOIN classes cl
      JOIN prior p ON p.c = cl.c
      LEFT JOIN contrib x
        ON x.doc_id = d.doc_id AND x.c = cl.c
    ),
    pred AS MATERIALIZED (
      SELECT doc_id, lang, c AS pred_lang
      FROM (SELECT *, row_number() OVER
              (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
            FROM grid)
      WHERE rn = 1
    )
    SELECT p.lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           vn.v AS vocab_size
    FROM pred p CROSS JOIN vn
    GROUP BY p.lang, p.pred_lang, vn.v
    ORDER BY p.lang, p.pred_lang
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes TRAINING + EVALUATION inside the engine:
    fit token-given-class likelihoods with Laplace smoothing on the
    80% train split (doc_id % 5 != 0), score the held-out 20%, report
    the language confusion matrix — the classic first text classifier
    every corpus pipeline fits as a quality/tagging baseline.

    NB is the aggregation-native trainer: the WHOLE model is two
    word-count aggregates (class priors + per-class token counts over
    a top-{_NB_VOCAB_K} vocabulary), no iteration at all — at 100 TB
    it is exactly the canonical word-count shape (map-side partial
    aggregation carries vocabulary-sized partials, never the corpus).
    The fitted model is a V×C table, broadcast to the scoring join;
    scoring is one shuffle on (doc, class) and one bounded-per-doc
    (|C| rows) row_number window.

    Determinism discipline: log-likelihoods are quantized to integer
    MICRO-NATS (floor(ln·1e6)) at the model — per-doc scores are then
    exact BIGINT sums (order-independent, the ml_logreg_quality
    pattern), and the argmax tie-breaks on class name, so Spark and
    DuckDB pick identical predictions and the confusion matrix
    hash-certifies.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    train_tok = tok.filter(F.col("doc_id") % 5 != 0)
    vocab = (
        train_tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(_NB_VOCAB_K)
        .select("w")
    )
    vn = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    classes = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.col("lang").alias("c"))
        .distinct()
    )
    n_train = train_tok.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_tr")
    )
    prior = (
        train_tok.groupBy(F.col("lang").alias("c"))
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_c"))
        .crossJoin(F.broadcast(n_train))
        .selectExpr(
            "c",
            f"CAST(floor(ln(CAST(n_c AS DOUBLE) / CAST(n_tr AS DOUBLE))"
            f" * {_NB_MICRO} + 0.5) AS BIGINT) AS prior_q",
        )
    )
    cnt_wc = (
        train_tok.join(F.broadcast(vocab), "w")
        .groupBy(F.col("lang").alias("c"), "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_wc"))
    )
    model = (
        classes.crossJoin(F.broadcast(vocab))
        .join(cnt_wc, ["c", "w"], "left")
        .withColumn("c_wc", F.coalesce(F.col("c_wc"), F.lit(0)))
    )
    tot = model.groupBy("c").agg(
        F.sum("c_wc").cast("bigint").alias("tot_c")
    )
    model_q = (
        model.join(F.broadcast(tot), "c")
        .crossJoin(F.broadcast(vn))
        .selectExpr(
            "c",
            "w",
            f"CAST(floor(ln(CAST(c_wc + 1 AS DOUBLE)"
            f" / CAST(tot_c + v AS DOUBLE)) * {_NB_MICRO} + 0.5)"
            " AS BIGINT) AS lq",
        )
    )
    test_wc = (
        tok.filter(F.col("doc_id") % 5 == 0)
        .join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dw"))
    )
    contrib = (
        test_wc.join(F.broadcast(model_q), "w")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.col("n_dw") * F.col("lq")).cast("bigint").alias("s"))
    )
    grid = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang")
        .crossJoin(F.broadcast(classes))
        .join(F.broadcast(prior), "c")
        .join(contrib, ["doc_id", "lang", "c"], "left")
        .selectExpr(
            "doc_id",
            "lang",
            "c",
            "prior_q + coalesce(s, CAST(0 AS BIGINT)) AS score",
        )
    )
    w_pred = Window.partitionBy("doc_id").orderBy(F.desc("score"), "c")
    pred = (
        grid.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("c").alias("pred_lang"))
    )
    out = (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(vn))
        .select("lang", "pred_lang", "n_docs", F.col("v").alias("vocab_size"))
        .orderBy("lang", "pred_lang")
    )
    return out


# --- depth-2 CART -----------------------------------------------------------

# Fixed 16-bin quantization per feature (domain-derived widths, the
# binned-split-search discipline Spark MLlib trees use). Feature ids:
# 0 = l_quantity/4, 1 = l_discount*160, 2 = l_tax*200,
# 3 = l_extendedprice/7500.
_DT_BINS = [
    "LEAST(CAST(floor(l_quantity / 4e0) AS BIGINT), 15)",
    "LEAST(CAST(floor(l_discount * 160e0) AS BIGINT), 15)",
    "LEAST(CAST(floor(l_tax * 200e0) AS BIGINT), 15)",
    "LEAST(CAST(floor(l_extendedprice / 7500e0) AS BIGINT), 15)",
]
# Planted depth-2 rule: an AND of two feature thresholds, both aligned
# to bin edges (q >= 24 <=> bin0 >= 6; d >= 0.05 <=> bin1 >= 8) — a
# single split cannot separate it, the right depth-2 tree recovers it
# exactly (the logreg planted-label / OLS planted-coefficient
# discipline).
_DT_Y = (
    "CASE WHEN l_quantity >= 24e0 AND l_discount >= 0.05e0"
    " THEN 1 ELSE 0 END"
)
# Weighted binary Gini, up to the constant 2/n: products of exact
# BIGINT counts (each <= ~9e10, exactly representable) in a FIXED
# double expression — bit-identical cross-engine, so the argmin needs
# no quantization. Ties break (f, t).
_DT_H = (
    "CAST(nl0 AS DOUBLE) * CAST(nl1 AS DOUBLE)"
    " / CAST(nl0 + nl1 AS DOUBLE)"
    " + CAST(nr0 AS DOUBLE) * CAST(nr1 AS DOUBLE)"
    " / CAST(nr0 + nr1 AS DOUBLE)"
)


def _dt_feat_sql() -> str:
    cols = ", ".join(f"{b} AS b{j}" for j, b in enumerate(_DT_BINS))
    return f"SELECT {_DT_Y} AS y, l_orderkey, {cols} FROM lineitem"


def _dt_unpivot_sql(src: str, extra: str = "") -> str:
    """(f, bin, y[, s]) rows: one SELECT per feature, unioned."""
    ex = f"{extra}, " if extra else ""
    return " UNION ALL ".join(
        f"SELECT {ex}{j} AS f, b{j} AS bin, y FROM {src}" for j in range(4)
    )


def _dt_cand_sql(hist: str, keys: str) -> str:
    """Dense candidate grid (every f x t in 0..14) joined to the bin
    histogram: left/right class counts per candidate split bin <= t."""
    ex = f"{keys}, " if keys else ""
    return f"""
      SELECT {ex}g.f AS f, g.t AS t,
             CAST(sum(CASE WHEN h.bin <= g.t AND h.y = 0 THEN h.c
                      ELSE 0 END) AS BIGINT) AS nl0,
             CAST(sum(CASE WHEN h.bin <= g.t AND h.y = 1 THEN h.c
                      ELSE 0 END) AS BIGINT) AS nl1,
             CAST(sum(CASE WHEN h.bin > g.t AND h.y = 0 THEN h.c
                      ELSE 0 END) AS BIGINT) AS nr0,
             CAST(sum(CASE WHEN h.bin > g.t AND h.y = 1 THEN h.c
                      ELSE 0 END) AS BIGINT) AS nr1
      FROM (SELECT ff.f, tt.t
            FROM (SELECT unnest(range(0, 4)) AS f) ff
            CROSS JOIN (SELECT unnest(range(0, 15)) AS t) tt) g
      JOIN {hist} h ON h.f = g.f
      GROUP BY {ex}g.f, g.t"""


def _dt_pick_sql(bref: str, fref: str, tref: str) -> str:
    """Side assignment: 0 when the winning feature's bin <= t."""
    fb = " ".join(
        f"WHEN {fref} = {j} THEN {bref}{j}" for j in range(4)
    )
    return f"CASE WHEN (CASE {fb} ELSE -1 END) <= {tref} THEN 0 ELSE 1 END"


def dtree_oracle_sql() -> str:
    return f"""
    WITH feat AS MATERIALIZED ({_dt_feat_sql()}),
    tr AS MATERIALIZED (SELECT * FROM feat WHERE l_orderkey % 5 != 0),
    te AS MATERIALIZED (SELECT * FROM feat WHERE l_orderkey % 5 = 0),
    h1 AS MATERIALIZED (
      SELECT f, bin, y, CAST(count(*) AS BIGINT) AS c
      FROM ({_dt_unpivot_sql("tr")}) GROUP BY f, bin, y
    ),
    cand1 AS MATERIALIZED ({_dt_cand_sql("h1", "")}),
    win1 AS MATERIALIZED (
      SELECT f, t FROM cand1
      WHERE nl0 + nl1 > 0 AND nr0 + nr1 > 0
      ORDER BY {_DT_H} ASC, f, t LIMIT 1
    ),
    sided AS MATERIALIZED (
      SELECT tr.*, {_dt_pick_sql("tr.b", "w.f", "w.t")} AS s
      FROM tr CROSS JOIN win1 w
    ),
    h2 AS MATERIALIZED (
      SELECT s, f, bin, y, CAST(count(*) AS BIGINT) AS c
      FROM ({_dt_unpivot_sql("sided", "s")}) GROUP BY s, f, bin, y
    ),
    cand2 AS MATERIALIZED ({_dt_cand_sql("h2", "h.s")}),
    win2 AS MATERIALIZED (
      SELECT s, f, t FROM (
        SELECT s, f, t,
               row_number() OVER (PARTITION BY s
                                  ORDER BY {_DT_H} ASC, f, t) AS rn
        FROM cand2 WHERE nl0 + nl1 > 0 AND nr0 + nr1 > 0
      ) WHERE rn = 1
    ),
    tr_leaf AS MATERIALIZED (
      SELECT d.s, {_dt_pick_sql("d.b",
                                "coalesce(w.f, -1)",
                                "coalesce(w.t, 15)")} AS s2,
             CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(d.y) AS BIGINT) AS n_pos_train
      FROM sided d LEFT JOIN win2 w ON w.s = d.s
      GROUP BY 1, 2
    ),
    leaves AS MATERIALIZED (
      SELECT s, s2, n_train, n_pos_train,
             CASE WHEN 2 * n_pos_train > n_train THEN 1 ELSE 0 END AS pred
      FROM tr_leaf
    ),
    te_leaf AS MATERIALIZED (
      SELECT q.s, {_dt_pick_sql("q.b",
                                "coalesce(w.f, -1)",
                                "coalesce(w.t, 15)")} AS s2,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(q.y) AS BIGINT) AS n_pos_test
      FROM (SELECT te.*, {_dt_pick_sql("te.b", "w1.f", "w1.t")} AS s
            FROM te CROSS JOIN win1 w1) q
      LEFT JOIN win2 w ON w.s = q.s
      GROUP BY 1, 2
    ),
    joined AS MATERIALIZED (
      SELECT l.s, l.s2, l.n_train, l.n_pos_train, l.pred,
             coalesce(t.n_test, 0) AS n_test,
             CASE WHEN l.pred = 1 THEN coalesce(t.n_pos_test, 0)
                  ELSE coalesce(t.n_test, 0) - coalesce(t.n_pos_test, 0)
             END AS n_correct
      FROM leaves l LEFT JOIN te_leaf t ON t.s = l.s AND t.s2 = l.s2
    ),
    acc AS (
      SELECT floor(CAST(sum(n_correct) AS DOUBLE)
                   / CAST(sum(n_test) AS DOUBLE) * 10000 + 0.5) / 10000
               AS accuracy
      FROM joined
    )
    SELECT j.s, j.s2,
           w1.f AS root_feat, w1.t AS root_thr,
           coalesce(w2.f, -1) AS child_feat,
           coalesce(w2.t, 15) AS child_thr,
           j.n_train, j.n_pos_train, j.pred, j.n_test, j.n_correct,
           acc.accuracy
    FROM joined j
    CROSS JOIN win1 w1
    LEFT JOIN win2 w2 ON w2.s = j.s
    CROSS JOIN acc
    ORDER BY j.s, j.s2
    """


@register(
    "ml_decision_tree",
    category="similarity",
    bench=False,  # two tiny argmin stages + leaf passes: fixture cost is
    # the scheduling floor (trainer-family exclusion).
    oracle=dtree_oracle_sql(),
)
def ml_decision_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART trained in-engine by binned split search — the way
    distributed trees are actually built (Spark MLlib / XGBoost hist
    mode): quantize each feature to 16 fixed bins, aggregate one
    class-histogram per (feature, bin), and pick the Gini-minimizing
    split from the ~60-candidate grid — the full-data scan produces a
    128-row histogram, and the split decision runs on THAT, never on
    rows. Level 2 repeats the search inside each child (one more
    histogram pass with a side key), then leaves classify by majority
    and the 20% holdout (l_orderkey % 5 = 0) scores the tree.

    The label is a PLANTED rule — quantity >= 24 AND discount >= 0.05,
    both aligned to bin edges — an AND no single split separates, so
    held-out accuracy ~1.0 proves the two-level search composed the
    right splits (the logreg/OLS planted-recovery discipline); tax and
    extendedprice ride along as noise features the search must reject.

    Determinism: all candidate counts are exact BIGINTs; the Gini
    argmin key is a FIXED double expression over products that stay
    under 2^53 (bit-identical cross-engine), tie-broken on (feature,
    threshold), so Spark's two collected winners equal the oracle's
    CTE winners exactly. Cost shape at 100 TB: two corpus scans
    (feature pass + sided pass), each reduced map-side to a <=256-row
    histogram; the argmin and leaf logic never touch row-scale data —
    the canonical distributed-tree layout.
    """
    li = load(spark, sf_dir, "lineitem")
    feat = li.selectExpr(
        f"{_DT_Y} AS y",
        "l_orderkey",
        *[f"{b} AS b{j}" for j, b in enumerate(_DT_BINS)],
    )
    tr = feat.filter(F.col("l_orderkey") % 5 != 0).persist()
    te = feat.filter(F.col("l_orderkey") % 5 == 0)

    def unpivot(df, extra_cols: list[str]):
        pairs = ", ".join(f"{j}L, b{j}" for j in range(4))
        return df.selectExpr(
            *extra_cols, "y", f"stack(4, {pairs}) AS (f, bin)"
        )

    def hist(df, keys: list[str]):
        return df.groupBy(*keys, "f", "bin", "y").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )

    grid = spark.range(4).selectExpr("CAST(id AS BIGINT) AS gf").crossJoin(
        spark.range(15).selectExpr("CAST(id AS BIGINT) AS t")
    )

    def candidates(h, keys: list[str]):
        ex = [f"h.{k}" for k in keys]
        side_l = "h.bin <= g.t"
        return (
            grid.alias("g")
            .join(h.alias("h"), F.expr("h.f = g.gf"))
            .groupBy(*ex, "g.gf", "g.t")
            .agg(
                *[
                    F.sum(
                        F.expr(
                            f"CASE WHEN {cond} AND h.y = {y} THEN h.c"
                            " ELSE 0 END"
                        )
                    )
                    .cast("bigint")
                    .alias(name)
                    for cond, y, name in [
                        (side_l, 0, "nl0"),
                        (side_l, 1, "nl1"),
                        ("h.bin > g.t", 0, "nr0"),
                        ("h.bin > g.t", 1, "nr1"),
                    ]
                ]
            )
            .withColumnRenamed("gf", "f")
            .filter("nl0 + nl1 > 0 AND nr0 + nr1 > 0")
        )

    w1 = (
        candidates(hist(unpivot(tr, []), []), [])
        .orderBy(F.expr(_DT_H).asc(), "f", "t")
        .limit(1)
        .collect()[0]
    )
    f1, t1 = int(w1["f"]), int(w1["t"])
    sided = tr.withColumn(
        "s", F.expr(_dt_pick_sql("b", str(f1), str(t1)))
    )
    cand2 = candidates(hist(unpivot(sided, ["s"]), ["s"]), ["s"])
    wsp = Window.partitionBy("s").orderBy(F.expr(_DT_H).asc(), "f", "t")
    w2rows = (
        cand2.withColumn("rn", F.row_number().over(wsp))
        .filter("rn = 1")
        .select("s", "f", "t")
        .collect()
    )
    tr.unpersist()
    child = {int(r["s"]): (int(r["f"]), int(r["t"])) for r in w2rows}
    cf = {s: child.get(s, (-1, 15)) for s in (0, 1)}

    def s2_expr(bref: str) -> str:
        return (
            f"CASE WHEN s = 0 THEN {_dt_pick_sql(bref, str(cf[0][0]), str(cf[0][1]))}"
            f" ELSE {_dt_pick_sql(bref, str(cf[1][0]), str(cf[1][1]))} END"
        )

    tr_leaf = (
        sided.withColumn("s2", F.expr(s2_expr("b")))
        .groupBy("s", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.sum("y").cast("bigint").alias("n_pos_train"),
        )
        .withColumn(
            "pred",
            F.expr("CASE WHEN 2 * n_pos_train > n_train THEN 1 ELSE 0 END"),
        )
    )
    te_leaf = (
        te.withColumn("s", F.expr(_dt_pick_sql("b", str(f1), str(t1))))
        .withColumn("s2", F.expr(s2_expr("b")))
        .groupBy("s", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum("y").cast("bigint").alias("n_pos_test"),
        )
    )
    joined = (
        tr_leaf.join(te_leaf, ["s", "s2"], "left")
        .selectExpr(
            "s",
            "s2",
            "n_train",
            "n_pos_train",
            "pred",
            "coalesce(n_test, CAST(0 AS BIGINT)) AS n_test",
            "CASE WHEN pred = 1 THEN coalesce(n_pos_test, CAST(0 AS BIGINT))"
            " ELSE coalesce(n_test, CAST(0 AS BIGINT))"
            "      - coalesce(n_pos_test, CAST(0 AS BIGINT)) END"
            " AS n_correct",
        )
    )
    acc = joined.agg(
        F.expr(
            "floor(CAST(sum(n_correct) AS DOUBLE)"
            " / CAST(sum(n_test) AS DOUBLE) * 10000 + 0.5) / 10000"
        ).alias("accuracy")
    )
    out = (
        joined.crossJoin(F.broadcast(acc))
        .selectExpr(
            "s",
            "s2",
            f"CAST({f1} AS BIGINT) AS root_feat",
            f"CAST({t1} AS BIGINT) AS root_thr",
            f"CAST(CASE WHEN s = 0 THEN {cf[0][0]} ELSE {cf[1][0]} END"
            " AS BIGINT) AS child_feat",
            f"CAST(CASE WHEN s = 0 THEN {cf[0][1]} ELSE {cf[1][1]} END"
            " AS BIGINT) AS child_thr",
            "n_train",
            "n_pos_train",
            "pred",
            "n_test",
            "n_correct",
            "accuracy",
        )
        .orderBy("s", "s2")
    )
    return out


# Planted monotone classification fixture for the ROC evaluator: the
# positive rate rises linearly with the integer score (quantity), so the
# true AUC is a known closed form and the invariant test can assert the
# recovered value sits in the planted band — a fit against real columns
# would only certify agreement on noise (the _LR_ROWS_SQL discipline).
_ROC_ROWS_SQL = """
      SELECT CAST(l_quantity AS BIGINT) AS s,
             CASE WHEN ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503)
                       % 1000
                  < 150 + 14 * CAST(l_quantity AS BIGINT)
                  THEN 1 ELSE 0 END AS label
      FROM lineitem
"""


@register(
    "ml_roc_auc",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_ROC_ROWS_SQL}),
    bins AS (
      SELECT s,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(1 - label) AS BIGINT) AS neg
      FROM rows_in GROUP BY s
    ),
    binc AS (
      SELECT s, pos, neg,
             CAST(coalesce(sum(neg) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS cnb
      FROM bins
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(pos * (2 * cnb + neg)) AS BIGINT) AS num2
      FROM binc
    )
    SELECT n_pos, n_neg, n_bins, num2 AS auc_pairs_x2,
           floor(CAST(num2 AS DOUBLE)
                 / (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)
                    * CAST(n_neg AS DOUBLE)) * 10000 + 0.5) / 10000 AS auc,
           floor((CAST(num2 AS DOUBLE)
                  / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                  - CAST(1 AS DOUBLE)) * 10000 + 0.5) / 10000 AS gini
    FROM tot
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a score against a binary label by the binned
    Mann-Whitney identity — the classifier-evaluation twin of
    ml_logreg_quality's training loop. AUC = P(score_pos > score_neg)
    + 0.5·P(tie), computed WITHOUT ranking individual rows: scores
    land in their integer bins with one hash aggregate (pos/neg count
    per distinct score), and the pairwise-win count folds over the
    bounded bin relation as Σ_s pos_s·(2·neg_below_s + neg_s), so
    every term is an exact BIGINT and the only division is the final
    AUC ratio (r4-floored). Gini = 2·AUC − 1 comes from the same
    integers.

    Scale shape: the groupBy(score) aggregate is the ONLY pass over
    the data (map-side combined, one bin row per distinct score
    crossing the wire); the cumulative-negatives window runs over the
    bin relation, whose size is bounded by the score DOMAIN (≤50
    integer quantities), not the row count — the same
    bounded-relation window sanctioned for the daily/ntile composites.
    At 100 TB this is one scan + a ≤50-row driver-side-sized fold,
    exactly how AUC is computed on binned scores in production eval
    pipelines. The label is a planted monotone signal (positive rate
    = (150 + 14·q)/1000), so the invariant test asserts the recovered
    AUC against the closed form rather than certifying noise.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503)"
        " % 1000 < 150 + 14 * CAST(l_quantity AS BIGINT)"
        " THEN 1 ELSE 0 END AS label",
    )
    bins = li.groupBy("s").agg(
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(F.expr("1 - label")).cast("bigint").alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    binc = bins.withColumn(
        "cnb", F.coalesce(F.sum("neg").over(w), F.lit(0)).cast("bigint")
    )
    tot = binc.groupBy().agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(F.expr("pos * (2 * cnb + neg)")).cast("bigint").alias("num2"),
    )
    return tot.selectExpr(
        "n_pos",
        "n_neg",
        "n_bins",
        "num2 AS auc_pairs_x2",
        "floor(CAST(num2 AS DOUBLE)"
        " / (CAST(2 AS DOUBLE) * CAST(n_pos AS DOUBLE)"
        " * CAST(n_neg AS DOUBLE)) * 10000 + 0.5) / 10000 AS auc",
        "floor((CAST(num2 AS DOUBLE)"
        " / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))"
        " - CAST(1 AS DOUBLE)) * 10000 + 0.5) / 10000 AS gini",
    )


# Fold assignment hashes with the multipliers SWAPPED relative to the
# noise hash in _LR_ROWS_SQL, so fold membership is decorrelated from
# the planted noise term (same multiplier would alias fold % 5 with
# noise % 2001 structure).
_KF_FOLD_SQL = "(l_orderkey * 40503 + l_linenumber * 2654435761) % 5"

_KF_MOM_COLS = ("n", "sq", "sd", "sqq", "sqd", "sdd", "sy", "sqy", "sdy")


def _kfold_oracle_sql() -> str:
    train_cols = ", ".join(
        f"t.t{c} - f.{c} AS {c}" for c in _KF_MOM_COLS
    )
    tot_cols = ", ".join(
        f"CAST(sum({c}) AS BIGINT) AS t{c}" for c in _KF_MOM_COLS
    )
    return f"""
    WITH rows_in AS MATERIALIZED (
      SELECT q, dd, y, {_KF_FOLD_SQL} AS fold
      FROM ({_LR_ROWS_SQL.replace("FROM lineitem",
            ", l_orderkey, l_linenumber FROM lineitem")})
    ),
    moms AS MATERIALIZED (
      SELECT fold,
             CAST(count(*) AS BIGINT)     AS n,
             CAST(sum(q) AS BIGINT)       AS sq,
             CAST(sum(dd) AS BIGINT)      AS sd,
             CAST(sum(q * q) AS BIGINT)   AS sqq,
             CAST(sum(q * dd) AS BIGINT)  AS sqd,
             CAST(sum(dd * dd) AS BIGINT) AS sdd,
             CAST(sum(y) AS BIGINT)       AS sy,
             CAST(sum(q * y) AS BIGINT)   AS sqy,
             CAST(sum(dd * y) AS BIGINT)  AS sdy
      FROM rows_in GROUP BY fold
    ),
    tot AS MATERIALIZED (SELECT {tot_cols} FROM moms),
    train AS MATERIALIZED (
      SELECT f.fold, f.n AS n_test, {train_cols}
      FROM moms f CROSS JOIN tot t
    ),
    wts AS MATERIALIZED (
      SELECT fold, n_test, n AS n_train,
             ({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0,
             ({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1,
             ({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2
      FROM train
    ),
    resid AS MATERIALIZED (
      SELECT fold, CAST(sum(rq * rq) AS BIGINT) AS sse
      FROM (
        SELECT r.fold,
               CAST(floor((CAST(r.y AS DOUBLE)
                 - (w.w0 + w.w1 * CAST(r.q AS DOUBLE)
                    + w.w2 * CAST(r.dd AS DOUBLE))) / 100 + 0.5)
               AS BIGINT) AS rq
        FROM rows_in r JOIN wts w ON r.fold = w.fold
      ) t GROUP BY fold
    )
    SELECT w.fold, w.n_train, w.n_test,
           floor(w.w0 * 10000 + 0.5) / 10000 AS w_intercept_cents,
           floor(w.w1 * 10000 + 0.5) / 10000 AS w_qty_cents,
           floor(w.w2 * 10000 + 0.5) / 10000 AS w_disc_cents,
           r.sse,
           floor(sqrt(CAST(r.sse AS DOUBLE) / CAST(w.n_test AS DOUBLE))
                 * 100 + 0.5) / 100 AS rmse_dollars
    FROM wts w JOIN resid r ON w.fold = r.fold
    ORDER BY w.fold
    """


@register(
    "ml_kfold_cv",
    category="similarity",
    oracle=_kfold_oracle_sql(),
)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the normal-equation OLS WITHOUT
    retraining scans: per-fold moment sums are computed in ONE
    groupBy(fold) pass, and each fold's training moments are the
    TOTALS MINUS THE FOLD (XᵀX and Xᵀy are additive over disjoint row
    sets), so five leave-fold-out models solve from the same single
    aggregate — the standard trick for distributed CV over linear
    models. Each fold's Cramer solve is a projection over a 5-row
    relation; the held-out residual pass joins rows to their own
    fold's weights (broadcast, 5 rows) and reports test-RMSE per fold.

    Determinism: the moment discipline of ml_linreg_normal_eq
    verbatim — exact BIGINT sums of integer-quantized columns,
    fold-decorrelated hash assignment, residuals re-quantized to
    integer dollars before SSE, sqrt/division only in the final
    projection (sqrt is IEEE-754 correctly rounded on both engines).
    Scale shape: two scans total (moments, residuals) regardless of k;
    the shuffle carries 9 BIGINTs per fold per partition — k-fold CV
    at 100 TB costs the same as one fit plus one scoring pass.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS q",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
        "50000 + 300 * l_quantity"
        " + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
        " + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 2001"
        " - 1000 AS y",
        f"{_KF_FOLD_SQL} AS fold",
    )
    moms = li.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("dd").cast("bigint").alias("sd"),
        F.sum(F.expr("q * q")).cast("bigint").alias("sqq"),
        F.sum(F.expr("q * dd")).cast("bigint").alias("sqd"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("q * y")).cast("bigint").alias("sqy"),
        F.sum(F.expr("dd * y")).cast("bigint").alias("sdy"),
    )
    tot = moms.groupBy().agg(
        *[F.sum(c).cast("bigint").alias(f"t{c}") for c in _KF_MOM_COLS]
    )
    train = moms.crossJoin(F.broadcast(tot)).selectExpr(
        "fold",
        "n AS n_test",
        *[f"t{c} - {c} AS {c}" for c in _KF_MOM_COLS],
    )
    wts = train.selectExpr(
        "fold",
        "n_test",
        "n AS n_train",
        f'({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0',
        f'({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1',
        f'({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2',
    )
    resid = (
        li.join(
            F.broadcast(wts.select("fold", "w0", "w1", "w2")), "fold"
        )
        .selectExpr(
            "fold",
            "CAST(floor((CAST(y AS DOUBLE)"
            " - (w0 + w1 * CAST(q AS DOUBLE) + w2 * CAST(dd AS DOUBLE)))"
            " / 100 + 0.5) AS BIGINT) AS rq",
        )
        .groupBy("fold")
        .agg(F.sum(F.expr("rq * rq")).cast("bigint").alias("sse"))
    )
    return (
        wts.join(resid, "fold")
        .selectExpr(
            "fold",
            "n_train",
            "n_test",
            "floor(w0 * 10000 + 0.5) / 10000 AS w_intercept_cents",
            "floor(w1 * 10000 + 0.5) / 10000 AS w_qty_cents",
            "floor(w2 * 10000 + 0.5) / 10000 AS w_disc_cents",
            "sse",
            "floor(sqrt(CAST(sse AS DOUBLE) / CAST(n_test AS DOUBLE))"
            " * 100 + 0.5) / 100 AS rmse_dollars",
        )
        .orderBy("fold")
    )


# Per-bin |observed − predicted| in pinned double order over exact
# integer aggregates; quantized to micro units BEFORE the cross-bin sum
# so ECE is an order-free integer fold (the bin count is tiny, but the
# discipline is uniform).
def _cal_gap(q: str = "") -> str:
    return (
        f"abs(CAST({q}pos AS DOUBLE) / CAST({q}n AS DOUBLE)"
        f" - CAST({q}sp AS DOUBLE)"
        f" / (CAST(1000 AS DOUBLE) * CAST({q}n AS DOUBLE)))"
    )


@register(
    "ml_calibration_bins",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_ROC_ROWS_SQL}),
    bins AS (
      SELECT (150 + 14 * s) // 100 AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(150 + 14 * s) AS BIGINT) AS sp
      FROM rows_in GROUP BY 1
    ),
    g AS (
      SELECT bin, n, pos, sp,
             CAST(floor({_cal_gap()} * 1000000 + 0.5) AS BIGINT) * n
               AS gap_w_micro
      FROM bins
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(gap_w_micro) AS BIGINT) AS gap_sum
      FROM g
    )
    SELECT g.bin, g.n AS n_rows,
           floor(CAST(g.sp AS DOUBLE)
                 / (CAST(1000 AS DOUBLE) * CAST(g.n AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS mean_pred,
           floor(CAST(g.pos AS DOUBLE) / CAST(g.n AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS obs_rate,
           floor({_cal_gap("g.")}
                 * 10000 + 0.5) / 10000 AS abs_gap,
           floor(CAST(t.gap_sum AS DOUBLE)
                 / (CAST(1000000 AS DOUBLE) * CAST(t.n_total AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS ece
    FROM g CROSS JOIN tot t
    ORDER BY g.bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error of the planted
    probability model behind ml_roc_auc: predicted probability
    (150 + 14·q)/1000 bucketed into deciles, observed positive rate
    per bucket, and ECE = Σ (n_b/N)·|obs_b − pred_b| — the calibration
    audit every scoring model ships with (AUC measures ranking,
    calibration measures whether 0.7 MEANS 70%; a model can ace one
    and fail the other). Since the score here IS the generator, the
    op must come out near-perfectly calibrated — the invariant test
    asserts ECE at the sampling-noise floor, so both engines are
    certified against a known ground truth.

    Determinism: per-bin aggregates are exact BIGINTs (pos, n, and the
    sum of integer milli-probabilities); the |obs − pred| gap is a
    pinned-order double expression over those integers, quantized to
    micro units per bin BEFORE the cross-bin weighted sum, making ECE
    an order-free integer fold with one final r4 division. Scale: one
    groupBy over the scan (map-side combined, ≤9 decile rows out) plus
    a 1-row broadcast total — same shape as ml_roc_auc.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503)"
        " % 1000 < 150 + 14 * CAST(l_quantity AS BIGINT)"
        " THEN 1 ELSE 0 END AS label",
    )
    bins = li.groupBy(F.expr("(150 + 14 * s) div 100").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(F.expr("150 + 14 * s")).cast("bigint").alias("sp"),
    )
    g = bins.selectExpr(
        "bin",
        "n",
        "pos",
        "sp",
        f"CAST(floor({_cal_gap()} * 1000000 + 0.5) AS BIGINT) * n"
        " AS gap_w_micro",
    )
    tot = g.groupBy().agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("gap_w_micro").cast("bigint").alias("gap_sum"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .selectExpr(
            "bin",
            "n AS n_rows",
            "floor(CAST(sp AS DOUBLE)"
            " / (CAST(1000 AS DOUBLE) * CAST(n AS DOUBLE))"
            " * 10000 + 0.5) / 10000 AS mean_pred",
            "floor(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)"
            " * 10000 + 0.5) / 10000 AS obs_rate",
            f"floor({_cal_gap()} * 10000 + 0.5) / 10000 AS abs_gap",
            "floor(CAST(gap_sum AS DOUBLE)"
            " / (CAST(1000000 AS DOUBLE) * CAST(n_total AS DOUBLE))"
            " * 10000 + 0.5) / 10000 AS ece",
        )
        .orderBy("bin")
    )


# Diagonal cofactors of XᵀX over the (1, q, dd) basis — C_jj = cof_j /
# detA is the j-th diagonal of (XᵀX)⁻¹, the only part of the inverse
# OLS inference needs. Fixed parse-tree order over one-time int→double
# casts (the _det3 discipline).
_LR_COF = {
    "cof0": (
        "CAST(sqq AS DOUBLE) * CAST(sdd AS DOUBLE)"
        " - CAST(sqd AS DOUBLE) * CAST(sqd AS DOUBLE)"
    ),
    "cof1": (
        "CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)"
        " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)"
    ),
    "cof2": (
        "CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)"
        " - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)"
    ),
}


def _linreg_inference_oracle_sql() -> str:
    feat = "\n      UNION ALL\n      ".join(
        f"SELECT '{name}' AS feature, w{j} AS beta,"
        f" sqrt(s2 * (({_LR_COF[f'cof{j}']}) / ({_LR_W['detA']}))) AS se"
        f" FROM stats"
        for j, name in ((0, "intercept"), (1, "quantity"), (2, "discount"))
    )
    return f"""
    WITH rows_in AS MATERIALIZED ({_LR_ROWS_SQL}),
    mom AS MATERIALIZED ({_LR_MOMS}),
    wts AS MATERIALIZED (
      SELECT mom.*,
             ({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0,
             ({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1,
             ({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2
      FROM mom
    ),
    resid AS MATERIALIZED (
      SELECT CAST(sum(rc * rc) AS BIGINT) AS sse_cents2
      FROM (
        SELECT CAST(floor(CAST(r.y AS DOUBLE)
                 - (w.w0 + w.w1 * CAST(r.q AS DOUBLE)
                    + w.w2 * CAST(r.dd AS DOUBLE)) + 0.5)
               AS BIGINT) AS rc
        FROM rows_in r CROSS JOIN wts w
      ) t
    ),
    stats AS MATERIALIZED (
      SELECT w.*,
             CAST(r.sse_cents2 AS DOUBLE) / CAST(w.n - 3 AS DOUBLE) AS s2
      FROM wts w CROSS JOIN resid r
    )
    SELECT feature,
           floor(beta * 10000 + 0.5) / 10000 AS beta_cents,
           floor(se * 10000 + 0.5) / 10000 AS se_cents,
           floor(beta / se * 100 + 0.5) / 100 AS t_stat
    FROM ({feat}) f
    ORDER BY feature
    """


@register(
    "ml_linreg_inference",
    category="similarity",
    oracle=_linreg_inference_oracle_sql(),
)
def ml_linreg_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS INFERENCE on the normal-equation fit: standard errors and
    t-statistics per coefficient via the diagonal of (XᵀX)⁻¹ — the
    part of a regression a decision actually reads (is the discount
    effect DISTINGUISHABLE from noise, not just what is its point
    estimate). se_j = √(s²·C_jj) with s² = SSE/(n−p) and C_jj the
    cofactor-over-determinant diagonal of the inverse moment matrix —
    no matrix library, just three more pinned-order projections over
    the SAME single moment aggregate ml_linreg_normal_eq computes.

    Determinism: moments and the cents-quantized residual SSE are
    exact BIGINTs; cofactors/determinant expand in fixed parse-tree
    order over one-time casts; sqrt and the final divisions are
    IEEE-correctly-rounded single ops (r4/r2-floored). The invariant
    test asserts the planted coefficients are recovered at huge t
    (signal) while the t-ladder ranks quantity above discount above
    noise-floor — certifying the ERROR BARS, not just the point fit.
    Scale: identical to the fit — two scans, nine BIGINTs then one
    BIGINT per partition over the wire; inference is free at 100 TB
    once the fit's aggregate exists.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS q",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
        "50000 + 300 * l_quantity"
        " + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
        " + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 2001"
        " - 1000 AS y",
    )
    mom = li.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("dd").cast("bigint").alias("sd"),
        F.sum(F.expr("q * q")).cast("bigint").alias("sqq"),
        F.sum(F.expr("q * dd")).cast("bigint").alias("sqd"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("q * y")).cast("bigint").alias("sqy"),
        F.sum(F.expr("dd * y")).cast("bigint").alias("sdy"),
    )
    wts = mom.selectExpr(
        "*",
        f'({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0',
        f'({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1',
        f'({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2',
    )
    resid = (
        li.crossJoin(F.broadcast(wts.select("w0", "w1", "w2")))
        .selectExpr(
            "CAST(floor(CAST(y AS DOUBLE)"
            " - (w0 + w1 * CAST(q AS DOUBLE) + w2 * CAST(dd AS DOUBLE))"
            " + 0.5) AS BIGINT) AS rc"
        )
        .groupBy()
        .agg(F.sum(F.expr("rc * rc")).cast("bigint").alias("sse_cents2"))
    )
    stats = wts.crossJoin(F.broadcast(resid)).selectExpr(
        "*",
        "CAST(sse_cents2 AS DOUBLE) / CAST(n - 3 AS DOUBLE) AS s2",
    )
    feats = None
    for j, name in ((0, "intercept"), (1, "quantity"), (2, "discount")):
        f = stats.selectExpr(
            f"'{name}' AS feature",
            f"w{j} AS beta",
            f"sqrt(s2 * (({_LR_COF[f'cof{j}']}) / ({_LR_W['detA']})))"
            " AS se",
        )
        feats = f if feats is None else feats.unionAll(f)
    return feats.selectExpr(
        "feature",
        "floor(beta * 10000 + 0.5) / 10000 AS beta_cents",
        "floor(se * 10000 + 0.5) / 10000 AS se_cents",
        "floor(beta / se * 100 + 0.5) / 100 AS t_stat",
    ).orderBy("feature")


@register(
    "ml_pr_auc",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_ROC_ROWS_SQL}),
    bins AS (
      SELECT s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM rows_in GROUP BY s
    ),
    cum AS (
      SELECT s, n, pos,
             CAST(sum(pos) OVER (ORDER BY s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pos,
             CAST(sum(n) OVER (ORDER BY s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_n
      FROM bins
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS p_total,
             CAST(sum(n) AS BIGINT) AS n_total
      FROM bins
    ),
    terms AS (
      SELECT CAST(floor(CAST(c.pos AS DOUBLE) / CAST(t.p_total AS DOUBLE)
                        * (CAST(c.cum_pos AS DOUBLE)
                           / CAST(c.cum_n AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS ap_micro
      FROM cum c CROSS JOIN tot t
    )
    SELECT t.p_total AS n_pos,
           t.n_total - t.p_total AS n_neg,
           floor(CAST((SELECT sum(ap_micro) FROM terms) AS DOUBLE)
                 / 1000000 * 10000 + 0.5) / 10000 AS avg_precision,
           floor(CAST(t.p_total AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS prevalence
    FROM tot t
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of the planted score — the imbalance-robust twin of
    ml_roc_auc: ROC AUC barely moves when positives are rare, AP
    collapses toward prevalence, which is why retrieval and filtering
    models report both. Binned identity: with ties grouped per score
    bin, AP = Σ_bins ΔR_k·P_k where P_k, R_k are precision/recall at
    each bin boundary walking scores DESCENDING.

    Determinism: the one groupBy(score) pass yields exact BIGINT
    pos/n per bin; cumulative sums run over the bounded (≤50-row)
    score-domain relation; each bin's ΔR·P term quantizes to micro
    units BEFORE the cross-bin fold (the modularity q_micro device),
    so the sum is order-free and the output is DEFINED as the
    quantized fold on both engines. Prevalence rides along as the
    random-classifier baseline AP. Scale: identical to ml_roc_auc —
    one scan, bin-domain-bounded everything after.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503)"
        " % 1000 < 150 + 14 * CAST(l_quantity AS BIGINT)"
        " THEN 1 ELSE 0 END AS label",
    )
    bins = li.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "pos",
        F.sum("pos").over(w).cast("bigint").alias("cum_pos"),
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
    )
    tot = bins.groupBy().agg(
        F.sum("pos").cast("bigint").alias("p_total"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(floor(CAST(pos AS DOUBLE) / CAST(p_total AS DOUBLE)"
        " * (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))"
        " * 1000000 + 0.5) AS BIGINT) AS ap_micro"
    )
    ap = terms.groupBy().agg(
        F.sum("ap_micro").cast("bigint").alias("ap_sum")
    )
    return tot.crossJoin(F.broadcast(ap)).selectExpr(
        "p_total AS n_pos",
        "n_total - p_total AS n_neg",
        "floor(CAST(ap_sum AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000"
        " AS avg_precision",
        "floor(CAST(p_total AS DOUBLE) / CAST(n_total AS DOUBLE)"
        " * 10000 + 0.5) / 10000 AS prevalence",
    )


# Centered second moments scaled by n (exact integers: n·sqq − sq² =
# n²·Var(q) etc.), so the ridge normal equations (XcᵀXc + λI)w = Xcᵀy
# become ((A + nλ·n)w1 + B·w2 = P, ...) with Λ = λ·n² — integer
# operands, double-pinned Cramer solve (the 2×2 determinant exceeds
# integer range, exactly like _det3, so it expands in DOUBLE).
# The moments themselves exceed int64 at ~10× the bench data (n·sqy ≈
# 2.7e19 at the sf1 probe — ANSI overflow, the r10 probe catch), so
# each engine computes them in its exact WIDE integer type — Spark
# DECIMAL(38,0), DuckDB HUGEINT. The moments are exactly equal as
# integers; the final DOUBLE cast in _ridge_w is each engine's own
# >2^53 integer-to-double conversion, whose last-ulp rounding is not
# structurally guaranteed to agree — the outputs are equal AFTER the
# 1e-4 quantization (verified by the driver hash pass and the sf1
# probe; round-10 ADVICE).
def _ridge_cm(wide: str) -> tuple[str, ...]:
    def c(col: str) -> str:
        return f"CAST({col} AS {wide})"

    return (
        f"{c('n')} * sqq - {c('sq')} * sq AS cm_a",
        f"{c('n')} * sqd - {c('sq')} * sd AS cm_b",
        f"{c('n')} * sdd - {c('sd')} * sd AS cm_c",
        f"{c('n')} * sqy - {c('sq')} * sy AS cm_p",
        f"{c('n')} * sdy - {c('sd')} * sy AS cm_q",
    )


_RIDGE_KS = (0, 100, 1000)


def _ridge_w(k: int) -> dict[str, str]:
    lam = f"CAST({k} AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    a = f"(CAST(cm_a AS DOUBLE) + {lam})"
    c = f"(CAST(cm_c AS DOUBLE) + {lam})"
    b, p, q = (
        "CAST(cm_b AS DOUBLE)",
        "CAST(cm_p AS DOUBLE)",
        "CAST(cm_q AS DOUBLE)",
    )
    d = f"({a} * {c} - {b} * {b})"
    return {
        "w1": f"({c} * {p} - {b} * {q}) / {d}",
        "w2": f"({a} * {q} - {b} * {p}) / {d}",
    }


def _ridge_oracle_sql() -> str:
    rows = []
    for k in _RIDGE_KS:
        w = _ridge_w(k)
        rows.append(
            f"""SELECT {k} AS ridge_lambda_per_row,
             {w["w1"]} AS w1, {w["w2"]} AS w2,
             (CAST(sy AS DOUBLE) - ({w["w1"]}) * CAST(sq AS DOUBLE)
              - ({w["w2"]}) * CAST(sd AS DOUBLE)) / CAST(n AS DOUBLE)
               AS w0
      FROM cm"""
        )
    sel = "\n      UNION ALL\n      ".join(rows)
    cm_cols = ",\n             ".join(_ridge_cm("HUGEINT"))
    return f"""
    WITH rows_in AS MATERIALIZED ({_LR_ROWS_SQL}),
    mom AS MATERIALIZED ({_LR_MOMS}),
    cm AS MATERIALIZED (
      SELECT n, sq, sd, sy,
             {cm_cols}
      FROM mom
    )
    SELECT ridge_lambda_per_row,
           floor(w0 * 10000 + 0.5) / 10000 AS w_intercept_cents,
           floor(w1 * 10000 + 0.5) / 10000 AS w_qty_cents,
           floor(w2 * 10000 + 0.5) / 10000 AS w_disc_cents
    FROM ({sel}) t
    ORDER BY ridge_lambda_per_row
    """


@register(
    "ml_ridge_path",
    category="similarity",
    oracle=_ridge_oracle_sql(),
)
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE regularization path on the planted linear fixture: slopes
    solved from the CENTERED normal equations (XcᵀXc + λI)w = Xcᵀy at
    λ/row ∈ {0, 100, 1000}, intercept recovered unpenalized from the
    means — the textbook formulation (the intercept is never shrunk;
    centering is what makes that exact). λ = 0 reproduces OLS, and the
    slopes shrink toward zero by the known factor Var/(Var + λ) as λ
    grows — the invariant test asserts both, certifying the
    regularizer's algebra rather than just agreement on noise.

    Determinism: centered moments are exact BIGINTs (n·sqq − sq² =
    n²·Var(q)); each λ's 2×2 Cramer solve expands in pinned DOUBLE
    order (the determinant exceeds int64, the _det3 situation); one
    moment aggregate serves the whole path. Scale: the path costs ONE
    scan regardless of how many λs — nine BIGINTs per partition over
    the wire, then driver-sized algebra; this is why distributed
    hyperparameter sweeps over closed-form models are free.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_quantity AS q",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
        "50000 + 300 * l_quantity"
        " + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
        " + ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503) % 2001"
        " - 1000 AS y",
    )
    mom = li.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("dd").cast("bigint").alias("sd"),
        F.sum(F.expr("q * q")).cast("bigint").alias("sqq"),
        F.sum(F.expr("q * dd")).cast("bigint").alias("sqd"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("q * y")).cast("bigint").alias("sqy"),
        F.sum(F.expr("dd * y")).cast("bigint").alias("sdy"),
    )
    cm = mom.selectExpr("n", "sq", "sd", "sy", *_ridge_cm("DECIMAL(38,0)"))
    out = None
    for k in _RIDGE_KS:
        w = _ridge_w(k)
        f = cm.selectExpr(
            f"{k} AS ridge_lambda_per_row",
            f'{w["w1"]} AS w1',
            f'{w["w2"]} AS w2',
            f'(CAST(sy AS DOUBLE) - ({w["w1"]}) * CAST(sq AS DOUBLE)'
            f' - ({w["w2"]}) * CAST(sd AS DOUBLE)) / CAST(n AS DOUBLE)'
            " AS w0",
        )
        out = f if out is None else out.unionAll(f)
    return out.selectExpr(
        "ridge_lambda_per_row",
        "floor(w0 * 10000 + 0.5) / 10000 AS w_intercept_cents",
        "floor(w1 * 10000 + 0.5) / 10000 AS w_qty_cents",
        "floor(w2 * 10000 + 0.5) / 10000 AS w_disc_cents",
    ).orderBy("ridge_lambda_per_row")


# --- ml_gmm_em: certified 1-D two-component mixture EM ------------------

_GMM_STEPS = 5
_GMM_MU0 = (4000, 9000)

# Planted mixture in integer cents: 40% of orders at 5000, 60% at 8000,
# plus Irwin-Hall(3) noise (sum of three decorrelated multiplicative-hash
# uniforms, sd ≈ 500 cents). Identical SQL text on both engines.
_GMM_X_SQL = """
      SELECT CAST(CASE WHEN ((o_orderkey % 1048576) * 2654435761) % 10 < 4
                  THEN 5000 ELSE 8000 END
             + ((o_orderkey * 48271) % 1000
                + (o_orderkey * 16807) % 1000
                + (o_orderkey * 69621) % 1000) - 1498 AS BIGINT) AS x
      FROM orders
"""


def _gmm_resp_sql(mu1: str, mu2: str) -> str:
    """Responsibility of component 1 as integer micro-units: the
    rational-sigmoid link over the squared-distance difference (the
    module-docstring exp() device — EM's E-step needs only the density
    RATIO, and a monotone rational link of (d2 − d1) preserves the
    soft-assignment structure while staying IEEE-exact)."""
    z = (
        f"(CAST((x - {mu2}) * (x - {mu2})"
        f" - (x - {mu1}) * (x - {mu1}) AS DOUBLE) / 200000e0)"
    )
    r = f"(0.5e0 + {z} / (2e0 * (1e0 + abs({z}))))"
    return f"CAST(floor({r} * 1000000e0 + 0.5e0) AS BIGINT)"


_GMM_AGGS_DUCK = """
        CAST(count(*) AS HUGEINT) AS n,
        CAST(sum(rq) AS HUGEINT) AS sr,
        CAST(sum(rq * x) AS HUGEINT) AS srx,
        CAST(sum((1000000 - rq) * x) AS HUGEINT) AS smx,
        CAST(sum(rq * (x - MU1) * (x - MU1)) AS HUGEINT) AS srd1,
        CAST(sum((1000000 - rq) * (x - MU2) * (x - MU2)) AS HUGEINT) AS srd2
"""


def gmm_oracle_sql() -> str:
    """Unrolled EM: each iteration recomputes responsibilities from the
    previous iteration's integer-cents means, aggregates exact moment
    sums, and re-derives the means with half-up integer division —
    the identical arithmetic the Spark driver loop performs."""
    parts = [
        f"""
    xs AS MATERIALIZED ({_GMM_X_SQL}),
    mu_0 AS MATERIALIZED (
      SELECT CAST({_GMM_MU0[0]} AS BIGINT) AS mu1,
             CAST({_GMM_MU0[1]} AS BIGINT) AS mu2)"""
    ]
    for t in range(1, _GMM_STEPS + 1):
        aggs = _GMM_AGGS_DUCK.replace("MU1", "m.mu1").replace("MU2", "m.mu2")
        parts.append(
            f"""
    ag_{t} AS MATERIALIZED (
      SELECT {aggs}
      FROM (SELECT x, {_gmm_resp_sql("m.mu1", "m.mu2")} AS rq
            FROM xs CROSS JOIN mu_{t - 1} m) q
      CROSS JOIN mu_{t - 1} m
    ),
    mu_{t} AS MATERIALIZED (
      SELECT CAST((2 * srx + sr) // (2 * sr) AS BIGINT) AS mu1,
             CAST((2 * smx + (1000000 * n - sr))
                  // (2 * (1000000 * n - sr)) AS BIGINT) AS mu2
      FROM ag_{t}
    )"""
        )
    t = _GMM_STEPS
    aggs = _GMM_AGGS_DUCK.replace("MU1", "m.mu1").replace("MU2", "m.mu2")
    parts.append(
        f"""
    fin AS MATERIALIZED (
      SELECT {aggs}
      FROM (SELECT x, {_gmm_resp_sql("m.mu1", "m.mu2")} AS rq
            FROM xs CROSS JOIN mu_{t} m) q
      CROSS JOIN mu_{t} m
    )
    SELECT CAST(f.n AS BIGINT) AS n_rows,
           CAST({_GMM_STEPS} AS BIGINT) AS iters,
           m.mu1 AS mu1_cents, m.mu2 AS mu2_cents,
           CAST(floor(sqrt(CAST(f.srd1 AS DOUBLE) / CAST(f.sr AS DOUBLE))
                + 0.5e0) AS BIGINT) AS sigma1_cents,
           CAST(floor(sqrt(CAST(f.srd2 AS DOUBLE)
                / CAST(1000000 * f.n - f.sr AS DOUBLE)) + 0.5e0)
                AS BIGINT) AS sigma2_cents,
           floor(CAST(f.sr AS DOUBLE)
                 / (1000000e0 * CAST(f.n AS DOUBLE)) * 10000 + 0.5)
             / 10000 AS w1,
           floor(CAST(1000000 * f.n - f.sr AS DOUBLE)
                 / (1000000e0 * CAST(f.n AS DOUBLE)) * 10000 + 0.5)
             / 10000 AS w2
    FROM fin f CROSS JOIN mu_{t} m"""
    )
    return "WITH" + ",".join(parts)


@register(
    "ml_gmm_em",
    category="similarity",
    bench=False,  # sequential tiny aggregate stages (the
    # ml_logreg_quality exclusion rationale).
    oracle=gmm_oracle_sql(),
)
def ml_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D GAUSSIAN-MIXTURE fit by EXPECTATION-
    MAXIMIZATION, trained in-engine and hash-certified — the
    unsupervised member of the certified-trainer family (logreg
    descends a loss with labels; k-means hard-assigns; EM
    soft-assigns and re-weights). The planted mixture is 40% of
    orders at 5000 cents / 60% at 8000 with sd≈500 Irwin-Hall noise;
    the invariant test asserts both means, both sds, and the mixing
    weight are recovered.

    E-step: component-1 responsibility via the module's rational-
    sigmoid link over the squared-distance DIFFERENCE (d2 − d1)/2σ² —
    EM needs only the density ratio, and the monotone rational link
    keeps the soft assignment IEEE-exact where the Gaussian's exp()
    would drift by libm ulps (module docstring device 1). Each
    responsibility quantizes to integer micro-units BEFORE
    aggregation (device 2). M-step: means re-derived by half-up
    integer division over exact HUGEINT/DECIMAL moment sums, driver-
    side in Spark (the Lloyd's pattern — 6 integers of state per
    step), in-SQL in the unrolled oracle — identical integer
    arithmetic, so the training paths are bit-equal.

    Scale: T scans of one cached integer column; each step is a
    map-side-combined 6-sum aggregate collected as one row; the
    soft-assignment link saturates to ~0.989, so the means carry a
    small, DETERMINISTIC mixing bias (~40 cents at this separation)
    that both engines and the tolerance test share. sigma estimates
    fold the same cross-component leakage (~±120 cents).
    """
    orders = load(spark, sf_dir, "orders")
    xs = orders.selectExpr(
        "CAST(CASE WHEN ((o_orderkey % 1048576) * 2654435761) % 10 < 4"
        " THEN 5000 ELSE 8000 END"
        " + ((o_orderkey * 48271) % 1000"
        "    + (o_orderkey * 16807) % 1000"
        "    + (o_orderkey * 69621) % 1000) - 1498 AS BIGINT) AS x"
    ).persist()

    def _aggs(mu1: int, mu2: int):
        return [
            F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"),
            F.expr("CAST(sum(CAST(rq AS DECIMAL(28,0))) AS DECIMAL(38,0))").alias("sr"),
            F.expr(
                "CAST(sum(CAST(rq AS DECIMAL(28,0)) * x) AS DECIMAL(38,0))"
            ).alias("srx"),
            F.expr(
                "CAST(sum(CAST(1000000 - rq AS DECIMAL(28,0)) * x)"
                " AS DECIMAL(38,0))"
            ).alias("smx"),
            F.expr(
                f"CAST(sum(CAST(rq AS DECIMAL(28,0)) * ((x - {mu1}) * (x - {mu1})))"
                " AS DECIMAL(38,0))"
            ).alias("srd1"),
            F.expr(
                f"CAST(sum(CAST(1000000 - rq AS DECIMAL(28,0))"
                f" * ((x - {mu2}) * (x - {mu2}))) AS DECIMAL(38,0))"
            ).alias("srd2"),
        ]

    mu1, mu2 = _GMM_MU0
    for _t in range(_GMM_STEPS):
        row = (
            xs.selectExpr(
                "x", f"{_gmm_resp_sql(str(mu1), str(mu2))} AS rq"
            )
            .agg(*_aggs(mu1, mu2))
            .collect()[0]
        )
        n, sr, srx, smx = (int(row["n"]), int(row["sr"]), int(row["srx"]),
                           int(row["smx"]))
        mu1 = (2 * srx + sr) // (2 * sr)
        mu2 = (2 * smx + (1000000 * n - sr)) // (2 * (1000000 * n - sr))
    xs.unpersist()
    fin = (
        xs.selectExpr("x", f"{_gmm_resp_sql(str(mu1), str(mu2))} AS rq")
        .agg(*_aggs(mu1, mu2))
    )
    out = fin.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"CAST({_GMM_STEPS} AS BIGINT) AS iters",
        f"CAST({mu1} AS BIGINT) AS mu1_cents",
        f"CAST({mu2} AS BIGINT) AS mu2_cents",
        "CAST(floor(sqrt(CAST(srd1 AS DOUBLE) / CAST(sr AS DOUBLE))"
        " + 0.5e0) AS BIGINT) AS sigma1_cents",
        "CAST(floor(sqrt(CAST(srd2 AS DOUBLE)"
        " / CAST(1000000 * n - sr AS DOUBLE)) + 0.5e0)"
        " AS BIGINT) AS sigma2_cents",
        "floor(CAST(sr AS DOUBLE)"
        " / (1000000e0 * CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000 AS w1",
        "floor(CAST(1000000 * n - sr AS DOUBLE)"
        " / (1000000e0 * CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000 AS w2",
    )
    return out


# --- ml_isotonic_calibration: PAV via the exact minimax formula ----------


@register(
    "ml_isotonic_calibration",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_ROC_ROWS_SQL}),
    bins AS MATERIALIZED (
      SELECT s, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM rows_in GROUP BY s
    ),
    cum AS MATERIALIZED (
      SELECT s, n, pos,
             CAST(sum(n) OVER (ORDER BY s) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY s) AS BIGINT) AS cpos
      FROM bins
    ),
    iv AS MATERIALIZED (
      SELECT i.s AS si, k.s AS sk,
             CAST(k.cpos - i.cpos + i.pos AS DOUBLE)
               / CAST(k.cn - i.cn + i.n AS DOUBLE) AS avg_ik
      FROM cum i JOIN cum k ON i.s <= k.s
    ),
    mm AS MATERIALIZED (
      SELECT j.s, iv.si, min(iv.avg_ik) AS minval
      FROM bins j JOIN iv ON iv.si <= j.s AND iv.sk >= j.s
      GROUP BY j.s, iv.si
    ),
    iso AS MATERIALIZED (
      SELECT s, max(minval) AS iso_raw FROM mm GROUP BY s
    )
    SELECT b.s AS bin, b.n AS n_rows, b.pos AS pos,
           floor(CAST(150 + 14 * b.s AS DOUBLE) / 1000e0 * 10000 + 0.5)
             / 10000 AS pred_rate,
           floor(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE) * 10000 + 0.5)
             / 10000 AS obs_rate,
           floor(i.iso_raw * 10000 + 0.5) / 10000 AS iso_rate
    FROM bins b JOIN iso i ON i.s = b.s
    ORDER BY bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION (pool-adjacent-violators) of the observed
    positive rate over the planted score behind ml_roc_auc — the
    nonparametric calibrator that ml_calibration_bins audits for:
    where the reliability diagram MEASURES miscalibration, isotonic
    FIXES it, producing the monotone step function closest (weighted
    L2) to the empirical rates. Sampling noise makes raw per-score
    rates non-monotone even under a perfectly calibrated generator;
    PAV pools exactly those inversions.

    Exactness: instead of the sequential pooling algorithm (stack
    state — not relational), the fit uses the closed-form MINIMAX
    characterization iso(j) = max_{{i≤j}} min_{{k≥j}} avg(y over bins
    i..k): interval averages are pinned double divisions of exact
    BIGINT prefix-sum differences, and min/max over bit-identical
    doubles are order-free, so the whole fit is hash-certifiable.
    The invariant test checks the minimax result against an
    independent pure-Python PAV implementation — two different
    algorithms, same fixed point.

    Scale: one map-side-combined groupBy collapses the scan to the
    score-domain-sized bin relation (≤50 rows — l_quantity's domain);
    everything after (prefix window, interval self-join ~1.3k rows,
    minimax join ~22k rows) is bounded-domain work, the agg_quantile
    argument. At 100 TB the bin relation is still 50 rows.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761 + l_linenumber * 40503)"
        " % 1000 < 150 + 14 * CAST(l_quantity AS BIGINT)"
        " THEN 1 ELSE 0 END AS label",
    )
    bins = li.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "s",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cpos"),
    )
    i, k = cum.alias("i"), cum.alias("k")
    iv = i.join(k, F.col("i.s") <= F.col("k.s")).selectExpr(
        "i.s AS si",
        "k.s AS sk",
        "CAST(k.cpos - i.cpos + i.pos AS DOUBLE)"
        " / CAST(k.cn - i.cn + i.n AS DOUBLE) AS avg_ik",
    )
    mm = (
        bins.alias("j")
        .join(
            iv,
            (F.col("si") <= F.col("j.s")) & (F.col("sk") >= F.col("j.s")),
        )
        .groupBy(F.col("j.s").alias("s"), F.col("si"))
        .agg(F.min("avg_ik").alias("minval"))
    )
    iso = mm.groupBy("s").agg(F.max("minval").alias("iso_raw"))
    return (
        bins.alias("b")
        .join(iso.alias("i"), F.col("i.s") == F.col("b.s"))
        .selectExpr(
            "b.s AS bin",
            "b.n AS n_rows",
            "b.pos AS pos",
            "floor(CAST(150 + 14 * b.s AS DOUBLE) / 1000e0 * 10000 + 0.5)"
            " / 10000 AS pred_rate",
            "floor(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE)"
            " * 10000 + 0.5) / 10000 AS obs_rate",
            "floor(iso_raw * 10000 + 0.5) / 10000 AS iso_rate",
        )
        .orderBy("bin")
    )


def bpe_apply_oracle_sql() -> str:
    """Unrolled train-then-ENCODE: the identical 10 merge rounds as
    bpe_oracle_sql (winners computed from the same corpus state), but
    carrying doc_id through every rewrite so the final state yields
    per-document tokenization facts instead of the global merge
    table."""
    parts = [
        """
    c0 AS MATERIALIZED (
      SELECT doc_id, ' ' || trim(text) || ' ' AS s FROM documents
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f"""
    p{r} AS MATERIALIZED (
      SELECT t.tok[i.i] || ' ' || t.tok[i.i + 1] AS pair,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT string_split(trim(s), ' ') AS tok FROM c{r - 1}) t,
           LATERAL unnest(range(1, len(t.tok))) AS i(i)
      GROUP BY 1
    ),
    m{r} AS MATERIALIZED (
      SELECT pair, c FROM p{r} ORDER BY c DESC, pair LIMIT 1
    ),
    c{r} AS MATERIALIZED (
      SELECT c.doc_id, {_bpe_rewrite("c.s", "m.pair")} AS s
      FROM c{r - 1} c CROSS JOIN m{r} m
    )"""
        )
    parts.append(
        f"""
    SELECT b.doc_id,
           CAST(len(string_split(trim(b.s), ' ')) AS BIGINT)
             AS n_tokens_before,
           CAST(len(string_split(trim(a.s), ' ')) AS BIGINT)
             AS n_tokens_after,
           CAST(len(list_filter(string_split(trim(a.s), ' '),
                                ft -> contains(ft, '@'))) AS BIGINT)
             AS n_merged_tokens,
           floor(CAST(len(string_split(trim(a.s), ' ')) AS DOUBLE)
                 / CAST(len(string_split(trim(b.s), ' ')) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS compression
    FROM c0 b JOIN c{_BPE_ROUNDS} a ON a.doc_id = b.doc_id
    ORDER BY b.doc_id"""
    )
    return "WITH" + ",".join(parts[:-1]) + parts[-1]


@register(
    "corpus_bpe_apply",
    category="corpus",
    bench=False,  # sequential train rounds (corpus_bpe_train rationale).
    oracle=bpe_apply_oracle_sql(),
)
def corpus_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the learned vocabulary — the apply half that
    closes corpus_bpe_train's loop: train the identical 10 merge
    rounds, then report per-document tokenization facts (token counts
    before/after, how many surviving tokens are merge products, and
    the compression ratio) — exactly what a tokenizer build publishes
    per shard so the training run can budget sequence packing
    (corpus_sequence_pack consumes these counts downstream).

    The training path is bit-identical to corpus_bpe_train (same
    pair-count totals, same (count DESC, pair ASC) winners, same
    triple-replace rewrite semantics — see _bpe_rewrite); doc_id rides
    along through every rewrite so the final corpus state is
    per-document attributable. Scale: training as documented on the
    train op; the encode adds zero passes — the final state IS the
    encoding (merge products carry '@', giving an O(1) merged-token
    test per token).
    """
    corpus = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "' ' || trim(text) || ' ' AS s"
    )
    corpus = corpus.localCheckpoint(eager=True)
    before = corpus.selectExpr(
        "doc_id",
        "CAST(size(split(trim(s), ' ')) AS BIGINT) AS n_tokens_before",
    )
    for _r in range(1, _BPE_ROUNDS + 1):
        top = (
            corpus.selectExpr("split(trim(s), ' ') AS tok")
            .selectExpr(
                "explode(CASE WHEN size(tok) >= 2 THEN"
                " transform(sequence(1, size(tok) - 1),"
                " bpj -> concat(element_at(tok, bpj), ' ',"
                " element_at(tok, bpj + 1))) ELSE"
                " array() END) AS pair"
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .limit(1)
            .collect()[0]
        )
        lit = "'" + top["pair"].replace("'", "''") + "'"
        corpus = corpus.selectExpr("doc_id", _bpe_rewrite("s", lit) + " AS s")
        corpus = corpus.localCheckpoint(eager=True)
    after = corpus.selectExpr(
        "doc_id",
        "CAST(size(split(trim(s), ' ')) AS BIGINT) AS n_tokens_after",
        "CAST(size(filter(split(trim(s), ' '),"
        " ft -> contains(ft, '@'))) AS BIGINT) AS n_merged_tokens",
    )
    return (
        before.join(after, "doc_id")
        .selectExpr(
            "doc_id",
            "n_tokens_before",
            "n_tokens_after",
            "n_merged_tokens",
            "floor(CAST(n_tokens_after AS DOUBLE)"
            " / CAST(n_tokens_before AS DOUBLE) * 10000 + 0.5) / 10000"
            " AS compression",
        )
        .orderBy("doc_id")
    )


def _ablation_training_parts() -> list[str]:
    """The logreg_oracle_sql training CTE chain, verbatim (same feat /
    nn / wt_0..wt_T construction), reusable for any post-training
    consumer."""
    parts = [
        f"""
    feat AS MATERIALIZED (
      SELECT {_FEAT_COLS} FROM ({_PREP}) b
    ),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
    wt_0 AS MATERIALIZED (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(_NF))})"""
    ]
    for t in range(1, _T_STEPS + 1):
        wref = [f"w.w{j}" for j in range(_NF)]
        parts.append(
            f"""
    gr_{t} AS MATERIALIZED (
      SELECT {_grad_sums()}
      FROM (SELECT pp.*, {_P_EXPR} AS p
            FROM (SELECT f.*, {_z_expr(wref)} AS z
                  FROM feat f CROSS JOIN wt_{t - 1} w) pp) qq
    ),
    wt_{t} AS MATERIALIZED (
      SELECT {_update_cols("w", "g", "nn")}
      FROM wt_{t - 1} w CROSS JOIN gr_{t} g CROSS JOIN nn
    )"""
        )
    return parts


def ablation_oracle_sql() -> str:
    """Unrolled training + 9 scoring aggregates (full model + each
    feature zeroed) + the 8-row importance table."""
    parts = _ablation_training_parts()
    wref = [f"w.w{j}" for j in range(_NF)]
    accs = []
    for j in ("full", *range(1, _NF)):
        zr = list(wref)
        if j != "full":
            zr[j] = "0"
        z = _z_expr(zr)
        yhat = (
            f"CASE WHEN 0.5e0 + ({z}) / (2e0 * (1e0 + abs({z})))"
            f" > 0.5e0 THEN 1e0 ELSE 0e0 END"
        )
        tag = "full" if j == "full" else f"a{j}"
        accs.append(
            f"floor(CAST(count(*) FILTER ({yhat} = y) AS DOUBLE)"
            f" / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000"
            f" AS acc_{tag}"
        )
    parts.append(
        f"""
    accs AS MATERIALIZED (
      SELECT {", ".join(accs)},
             {", ".join(f"max(w.w{j}) AS w{j}" for j in range(_NF))}
      FROM feat f CROSS JOIN wt_{_T_STEPS} w
    )
    {" UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS feature_idx,"
        f" CAST(w{j} AS BIGINT) AS weight_micro,"
        f" acc_full, acc_a{j} AS acc_ablated,"
        f" floor((acc_full - acc_a{j}) * 10000 + 0.5) / 10000"
        f" AS importance FROM accs"
        for j in range(1, _NF)
    )}
    ORDER BY feature_idx"""
    )
    return "WITH" + ",".join(parts)


@register(
    "ml_feature_ablation",
    category="similarity",
    bench=False,  # 24 sequential training aggregates (logreg rationale).
    oracle=ablation_oracle_sql(),
)
def ml_feature_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-ABLATION IMPORTANCE for the in-engine logistic model:
    retrain ml_logreg_quality's 24 integer-quantized gradient steps,
    then re-score the corpus 9 times — once with the full weight
    vector, once per feature with that feature ZEROED — and report
    accuracy drop per feature. This is the deterministic sibling of
    permutation importance (same question — what does the model lose
    without this signal — without the shuffle), and the model-debug
    table every production classifier ships beside its confusion
    matrix. The invariant test pins the semantics: the label is a
    rule over doc length and 'the'-count, so ablating the interaction
    features must dominate the importance ranking while the dead
    feature (val_cnt, absent from the rule) must cost ≈ nothing. The
    intercept (x0) is never ablated — zeroing the bias shifts the
    decision threshold for every row, which measures calibration, not
    a feature's signal.

    Training is bit-identical to ml_logreg_quality (same integer
    weight path — the module docstring's determinism devices); the 9
    scorings fold into ONE aggregate pass over the cached features
    (9 conditional counts, map-side combined). Oracle: the same
    unrolled training plus the same 9-way aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    feat = (
        docs.selectExpr(
            "text",
            "length(text) AS tlen",
            "(length(text) - length(replace(text, 'the', ''))) / 3"
            " AS the_cnt",
            "(length(text) - length(replace(text, 'value', ''))) / 5"
            " AS val_cnt",
            "length(text) - length(replace(text, ' ', '')) + 1 AS wcnt",
        )
        .selectExpr(*(f"{x} AS x{j}" for j, x in enumerate(_X)), f"{_Y} AS y")
        .persist()
    )
    n = feat.count()
    wq = [0] * _NF
    for _t in range(_T_STEPS):
        wref = [str(w) for w in wq]
        row = (
            feat.selectExpr("*", f"{_z_expr(wref)} AS z")
            .selectExpr("*", f"{_P_EXPR} AS p")
            .selectExpr(
                *(
                    f"CAST(floor((p - y) * x{j} * {_NANO}e0 + 0.5e0)"
                    f" AS BIGINT) AS gq{j}"
                    for j in range(_NF)
                )
            )
            .groupBy()
            .agg(
                *(
                    F.sum(f"gq{j}").cast("bigint").alias(f"g{j}")
                    for j in range(_NF)
                )
            )
            .collect()[0]
        )
        wq = [
            wq[j]
            - int(
                math.floor(
                    8.0 * float(row[f"g{j}"]) / (float(n) * 1000.0) + 0.5
                )
            )
            for j in range(_NF)
        ]
    accs = []
    for j in ("full", *range(1, _NF)):
        wref = [str(w) for w in wq]
        if j != "full":
            wref[j] = "0"
        z = _z_expr(wref)
        tag = "full" if j == "full" else f"a{j}"
        accs.append(
            f"floor(CAST(count(CASE WHEN"
            f" (CASE WHEN 0.5e0 + ({z}) / (2e0 * (1e0 + abs({z})))"
            f" > 0.5e0 THEN 1e0 ELSE 0e0 END) = y THEN 1 END) AS DOUBLE)"
            f" / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000"
            f" AS acc_{tag}"
        )
    one = feat.selectExpr(*accs)
    stacked = one.selectExpr(
        "acc_full",
        "stack(" + str(_NF - 1) + ", "
        + ", ".join(f"{j}, acc_a{j}" for j in range(1, _NF))
        + ") AS (feature_idx, acc_ablated)",
    )
    out = stacked.selectExpr(
        "CAST(feature_idx AS BIGINT) AS feature_idx",
        f"CAST(element_at(array({', '.join(str(w) for w in wq)}),"
        " CAST(feature_idx AS INT) + 1) AS BIGINT) AS weight_micro",
        "acc_full",
        "acc_ablated",
        "floor((acc_full - acc_ablated) * 10000 + 0.5) / 10000"
        " AS importance",
    ).orderBy("feature_idx")
    from cdc_pubsub_spark.tables import finalize_cached

    # Cache kept: the accuracy pass re-reads feat after the loop;
    # recomputing the text features measured 2.74 s vs 2.56 s at sf0.1.
    return finalize_cached(out, feat)


# Split-conformal fixture: the ml_linreg_normal_eq planted rows plus a
# deterministic md5 three-way split (the corpus SPLIT_CASE device).
_CONF_ROWS_SQL = """
      SELECT l_quantity AS q,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd,
             50000 + 300 * l_quantity
               + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
               + ((l_orderkey % 100000) * 2654435761
                  + l_linenumber * 40503) % 2001
               - 1000 AS y,
             CASE
               WHEN CAST(concat('0x', substr(md5(concat(
                    CAST(l_orderkey AS VARCHAR), '_',
                    CAST(l_linenumber AS VARCHAR))), 1, 2)) AS INT) < 154
                 THEN 'train'
               WHEN CAST(concat('0x', substr(md5(concat(
                    CAST(l_orderkey AS VARCHAR), '_',
                    CAST(l_linenumber AS VARCHAR))), 1, 2)) AS INT) < 205
                 THEN 'calib'
               ELSE 'test' END AS split
      FROM lineitem
"""

_CONF_PRED = (
    "(w0 + w1 * CAST(q AS DOUBLE) + w2 * CAST(dd AS DOUBLE))"
)


@register(
    "ml_conformal_interval",
    category="similarity",
    oracle=f"""
    WITH rows_in AS MATERIALIZED ({_CONF_ROWS_SQL}),
    mom AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT)     AS n,
             CAST(sum(q) AS BIGINT)       AS sq,
             CAST(sum(dd) AS BIGINT)      AS sd,
             CAST(sum(q * q) AS BIGINT)   AS sqq,
             CAST(sum(q * dd) AS BIGINT)  AS sqd,
             CAST(sum(dd * dd) AS BIGINT) AS sdd,
             CAST(sum(y) AS BIGINT)       AS sy,
             CAST(sum(q * y) AS BIGINT)   AS sqy,
             CAST(sum(dd * y) AS BIGINT)  AS sdy
      FROM rows_in WHERE split = 'train'
    ),
    wts AS MATERIALIZED (
      SELECT n AS n_train,
             ({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0,
             ({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1,
             ({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2
      FROM mom
    ),
    scored AS MATERIALIZED (
      SELECT r.split,
             CAST(floor(abs(CAST(r.y AS DOUBLE) - {_CONF_PRED}) + 0.5)
                  AS BIGINT) AS rq
      FROM rows_in r CROSS JOIN wts
      WHERE r.split <> 'train'
    ),
    ncal AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_cal FROM scored
      WHERE split = 'calib'
    ),
    hist AS MATERIALIZED (
      SELECT rq, CAST(count(*) AS BIGINT) AS c
      FROM scored WHERE split = 'calib' GROUP BY rq
    ),
    qh AS MATERIALIZED (
      SELECT min(rq) AS q_hat FROM (
        SELECT rq,
               CAST(sum(c) OVER (ORDER BY rq) AS BIGINT) AS cum
        FROM hist
      ) h CROSS JOIN ncal
      WHERE cum >= CAST(ceil(0.9e0 * CAST(n_cal + 1 AS DOUBLE))
                        AS BIGINT)
    )
    SELECT w.n_train,
           nc.n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           floor(w.w0 * 100 + 0.5) / 100 AS w0,
           floor(w.w1 * 100 + 0.5) / 100 AS w1,
           floor(w.w2 * 100 + 0.5) / 100 AS w2,
           q.q_hat,
           floor(CAST(sum(CASE WHEN s.rq <= q.q_hat THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS coverage,
           0.9e0 AS target_coverage
    FROM scored s
    CROSS JOIN wts w CROSS JOIN ncal nc CROSS JOIN qh q
    WHERE s.split = 'test'
    GROUP BY w.n_train, nc.n_cal, w.w0, w.w1, w.w2, q.q_hat
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVALS over the planted OLS model
    — the distribution-free uncertainty wrapper modern ML-ops puts
    around ANY point predictor: fit on the train split, take q̂ = the
    ⌈0.9(n+1)⌉-th smallest absolute calibration residual, and the
    interval ŷ ± q̂ covers ≥ 90% of fresh points BY CONSTRUCTION (no
    normality, no variance model — just exchangeability). The op
    reports the realized test coverage beside the 0.9 target; the
    invariant test pins it inside the finite-sample band, which is
    the conformal GUARANTEE, not a hope.

    Exactness devices: the fit is the ml_linreg_normal_eq Cramer
    solve over exact integer train moments; residuals quantize to
    integers; and the calibration ORDER STATISTIC is computed as a
    VALUE-HISTOGRAM threshold (group by residual value, cumulative
    over the bounded residual domain, min value whose cumulative
    count reaches k) — never a rank window over the data-sized
    calibration relation, so the quantile is exact AND scale-safe
    (the corpus prefix-sum device applied to quantiles). Splits are
    md5 three-way twins over a CONCATENATED key, and the planted
    noise hashes the key MOD 1e5 before multiplying — both chosen so
    the arithmetic survives the 2^40-shifted keys of the 10× scale
    probe under ANSI overflow checking (the unreduced product was
    measured overflowing there). Shape: two scans (train moments, scored
    splits), one bounded-domain histogram, one broadcast of 4 scalar
    relations.
    """
    li = load(spark, sf_dir, "lineitem")
    # r15: the split hash byte is projected ONCE and the CASE reads it
    # (the original inlined the md5+conv expression into both CASE
    # branches — two md5 evaluations per row; guide §4 applies to
    # expensive JVM expressions too).
    rows_in = (
        li.selectExpr(
            "l_quantity AS q",
            "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd",
            "50000 + 300 * l_quantity"
            " + 1200 * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
            " + ((l_orderkey % 100000) * 2654435761"
            "    + l_linenumber * 40503) % 2001"
            " - 1000 AS y",
            "CAST(conv(substring(md5(concat("
            "CAST(l_orderkey AS STRING), '_',"
            " CAST(l_linenumber AS STRING))), 1, 2), 16, 10) AS INT) AS hb",
        )
        .selectExpr(
            "q",
            "dd",
            "y",
            "CASE WHEN hb < 154 THEN 'train'"
            " WHEN hb < 205 THEN 'calib' ELSE 'test' END AS split",
        )
        .persist()
    )
    mom = rows_in.filter("split = 'train'").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("dd").cast("bigint").alias("sd"),
        F.sum(F.expr("q * q")).cast("bigint").alias("sqq"),
        F.sum(F.expr("q * dd")).cast("bigint").alias("sqd"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("q * y")).cast("bigint").alias("sqy"),
        F.sum(F.expr("dd * y")).cast("bigint").alias("sdy"),
    )
    wts = mom.selectExpr(
        "n AS n_train",
        f'({_LR_W["det0"]}) / ({_LR_W["detA"]}) AS w0',
        f'({_LR_W["det1"]}) / ({_LR_W["detA"]}) AS w1',
        f'({_LR_W["det2"]}) / ({_LR_W["detA"]}) AS w2',
    )
    # r15: `scored` is NOT persisted — it is one broadcast crossJoin +
    # row-local arithmetic over the already-cached rows_in, so its
    # three consumers recompute it from cache more cheaply than a
    # second lineitem-sized materialization (guide §5: cache only when
    # recomputing costs more than the memory pressure).
    scored = (
        rows_in.filter("split <> 'train'")
        .crossJoin(F.broadcast(wts))
        .selectExpr(
            "split",
            "n_train",
            "w0",
            "w1",
            "w2",
            f"CAST(floor(abs(CAST(y AS DOUBLE) - {_CONF_PRED}) + 0.5)"
            " AS BIGINT) AS rq",
        )
    )
    # r15 checkpointed the CALIB histogram and the final coverage job
    # still re-read the cache for the test rows. r16: ONE pass over the
    # cached non-train rows aggregates to the (split, rq) cell domain
    # (~2k bounded residual values x 2 splits; the constant wts columns
    # ride as group keys), and EVERY downstream scalar — n_cal, q_hat,
    # n_test, coverage — derives from the checkpointed cells, so the
    # cache is read once after build (was twice) and rows_in is
    # droppable as soon as the cells materialize. Coverage over cells
    # is exact: sum(CASE...c) / sum(c) re-weights the per-row CASE by
    # its cell count (same integers, same doubles as the oracle).
    from cdc_pubsub_spark import tables as _tables

    cells = (
        scored.filter("split <> 'train'")
        .groupBy("split", "rq", "n_train", "w0", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    if not _tables.LAZY_PLAN_MODE:  # plan pins need the real subtree
        cells = cells.localCheckpoint(eager=True)
        rows_in.unpersist(blocking=False)
    hist = cells.filter("split = 'calib'").select("rq", "c")
    ncal = hist.agg(F.sum("c").cast("bigint").alias("n_cal"))
    wcum = Window.orderBy("rq").rowsBetween(Window.unboundedPreceding, 0)
    qh = (
        hist.withColumn("cum", F.sum("c").over(wcum).cast("bigint"))
        .crossJoin(F.broadcast(ncal))
        .filter(
            F.expr(
                "cum >= CAST(ceil(0.9e0 * CAST(n_cal + 1 AS DOUBLE))"
                " AS BIGINT)"
            )
        )
        .agg(F.min("rq").alias("q_hat"))
    )
    out = (
        cells.filter("split = 'test'")
        .crossJoin(F.broadcast(ncal))
        .crossJoin(F.broadcast(qh))
        .groupBy("n_train", "n_cal", "w0", "w1", "w2", "q_hat")
        .agg(
            F.sum("c").cast("bigint").alias("n_test"),
            F.expr(
                "floor(CAST(sum(CASE WHEN rq <= q_hat THEN c ELSE 0 END)"
                " AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 10000 + 0.5)"
                " / 10000"
            ).alias("coverage"),
        )
        .selectExpr(
            "n_train",
            "n_cal",
            "n_test",
            "floor(w0 * 100 + 0.5) / 100 AS w0",
            "floor(w1 * 100 + 0.5) / 100 AS w1",
            "floor(w2 * 100 + 0.5) / 100 AS w2",
            "q_hat",
            "coverage",
            "0.9e0 AS target_coverage",
        )
    )
    from cdc_pubsub_spark.tables import finalize_cached, release_checkpoint

    try:
        # rows_in is already released above; the finalize materializes
        # `out` off the tiny cells checkpoint so the checkpoint blocks
        # are safe to drop in the same finally. Cache kept: lazy
        # measured 2.91 s vs 2.38 s at sf0.1 (local[4]).
        return finalize_cached(out, rows_in)
    finally:
        release_checkpoint(cells)


# --- r12 pinball-loss promotion (from staging/r12 at round 12) --------

ORACLE_PINBALL = """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    resid AS (
      SELECT event_type,
             y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY d) AS r
      FROM daily
    ),
    g AS (
      SELECT event_type, count(*) AS n,
             sum(greatest(r * 1, r * (1 - 10))) AS s_q10,
             sum(greatest(r * 5, r * (5 - 10))) AS s_q50,
             sum(greatest(r * 9, r * (9 - 10))) AS s_q90
      FROM resid WHERE r IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           floor(CAST(s_q10 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000e0)
                 * 10000 + 0.5) / 10000 AS pinball_q10,
           floor(CAST(s_q50 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000e0)
                 * 10000 + 0.5) / 10000 AS pinball_q50,
           floor(CAST(s_q90 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000e0)
                 * 10000 + 0.5) / 10000 AS pinball_q90
    FROM g
    ORDER BY event_type
    """


@register(
    "ml_quantile_pinball_eval",
    category="similarity",
    oracle=ORACLE_PINBALL,
)
def ml_quantile_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball-loss evaluation of the naive-1 (previous-day) forecast
    at q ∈ {0.1, 0.5, 0.9} per event_type — the standard scoring step
    of any quantile-forecast pipeline (the q=0.5 row is half the MAE;
    asymmetric rows price under/over-forecasting). A registered
    forecaster (orders_forecast_*) plus this evaluator is the complete
    train/score loop.

    Determinism: residuals are integer cents and the loss multiplies
    by 10q (integers 1/5/9), so every per-day loss is an EXACT integer
    in deci-cent units; the only division is the final mean, floored
    to 4dp via the house formula. Scale: one data-sized groupBy to the
    daily grid, one lag window per type (bounded partitions), one
    8-row output per 10 M input rows.
    """
    daily = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CAST(date_trunc('DAY', ts) AS DATE) AS d",
            "value",
        )
        .groupBy("event_type", "d")
        .agg(
            F.expr(
                "CAST(floor(sum(value) * 100 + 0.5) AS BIGINT)"
            ).alias("y")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    resid = daily.select(
        "event_type",
        (F.col("y") - F.lag("y", 1).over(w)).alias("r"),
    ).filter(F.col("r").isNotNull())
    qs = [(1, "q10"), (5, "q50"), (9, "q90")]
    aggs = []
    for tenq, label in qs:
        # pinball·10 = max(10q·r, (10q−10)·r) — exact integers.
        aggs.append(
            F.sum(
                F.greatest(
                    F.col("r") * tenq, F.col("r") * (tenq - 10)
                )
            ).alias(f"s_{label}")
        )
    g = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )
    out = g.selectExpr(
        "event_type",
        "n AS n_days",
        *[
            # deci-cent integer sum → mean in currency units, 4dp:
            # sum / (n · 10 · 100), floor-quantized.
            f"floor(CAST(s_{label} AS DOUBLE)"
            f" / (CAST(n AS DOUBLE) * 1000e0)"
            f" * 10000 + 0.5) / 10000 AS pinball_{label}"
            for _tenq, label in qs
        ],
    ).orderBy("event_type")
    return out


# --- r12 growth: rank correlation -----------------------------------------
#
# Spearman needs average ranks, and ranking 100 TB of rows with a
# data-sized window is exactly the anti-pattern this repo bans. The
# device is the same one ml_roc_auc uses for Mann-Whitney: ranks of a
# BINNED domain are a pure function of the bin-count relation —
# avg_rank(v) = (#below v) + (#at v + 1)/2 — so the only pass over data
# is one hash aggregate to joint bin counts, and every rank/moment after
# that lives on the bounded bin relation. Doubled ranks (2·avg_rank)
# keep the half-integers exact in BIGINT; the ts_autocorr pre-centering
# trick (d = n·r − Σw·r, an exact integer) kills the catastrophic
# n·Σxy − Σx·Σy cancellation, and the wide products ride DECIMAL(38,0)/
# HUGEINT per the r10 overflow discipline (bound ≈ n·max|dx|·|dy| ≈
# n·(2n)² < 10^33 at sf1000 — headroom to 10^38).

_SPEAR_BINS_SQL = """
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_quantity * l_extendedprice / 1000) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem
      GROUP BY 1, 2, 3
"""


@register(
    "ml_spearman_rho",
    category="similarity",
    oracle=f"""
    WITH joint AS ({_SPEAR_BINS_SQL}),
    xmarg AS (
      SELECT grp, x, CAST(sum(w) AS BIGINT) AS cnt FROM joint GROUP BY 1, 2
    ),
    xrank AS (
      SELECT grp, x,
             2 * coalesce(sum(cnt) OVER (PARTITION BY grp ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS rx2
      FROM xmarg
    ),
    ymarg AS (
      SELECT grp, y, CAST(sum(w) AS BIGINT) AS cnt FROM joint GROUP BY 1, 2
    ),
    yrank AS (
      SELECT grp, y,
             2 * coalesce(sum(cnt) OVER (PARTITION BY grp ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS ry2
      FROM ymarg
    ),
    ranked AS (
      SELECT j.grp, j.w, xr.rx2, yr.ry2
      FROM joint j
      JOIN xrank xr ON xr.grp = j.grp AND xr.x = j.x
      JOIN yrank yr ON yr.grp = j.grp AND yr.y = j.y
    ),
    tot AS (
      SELECT grp,
             CAST(sum(w) AS BIGINT) AS n,
             CAST(sum(w * rx2) AS BIGINT) AS sx,
             CAST(sum(w * ry2) AS BIGINT) AS sy
      FROM ranked GROUP BY 1
    ),
    dev AS (
      SELECT r.grp, r.w,
             t.n * r.rx2 - t.sx AS dx,
             t.n * r.ry2 - t.sy AS dy,
             t.n AS n
      FROM ranked r JOIN tot t ON t.grp = r.grp
    ),
    mom AS (
      SELECT grp,
             CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CAST(w AS HUGEINT) * dx * dy) AS HUGEINT) AS sxy,
             CAST(sum(CAST(w AS HUGEINT) * dx * dx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(w AS HUGEINT) * dy * dy) AS HUGEINT) AS syy
      FROM dev GROUP BY 1
    )
    SELECT grp AS l_returnflag, n AS n_rows,
           CASE WHEN sxx = 0 OR syy = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor(CAST(sxy AS DOUBLE)
                     / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))
                     * 10000 + 0.5) / 10000
           END AS spearman_rho
    FROM mom
    ORDER BY l_returnflag
    """,
)
def ml_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION (tie-corrected, per l_returnflag)
    between order quantity and total line revenue (qty · price) — the monotone-
    association diagnostic feature stores run before committing to a
    linear model (Pearson sees only linearity; Spearman sees any
    monotone link). Tie handling is the textbook average-rank
    convention, and since Spearman-with-ties IS Pearson on average
    ranks, the whole statistic reduces to integer moment algebra on
    the binned-domain rank relation (doubled ranks: 2·avg_rank =
    2·cum_below + cnt + 1, exact in BIGINT).

    Scale shape (r15 single-pass rewrite — the op was the slowest
    serial op at 3.6 s because `ranked` fed two aggregate legs and the
    dev leg re-joined `tot`, re-running the rank joins per leg): ONE
    hash aggregate collapses the scan to the joint (quantity ×
    deca-dollar price) bin relation — bounded by the value DOMAIN, not
    row count — then BOTH marginal doubled-ranks are computed on the
    joint rows themselves with value-RANGE window frames (cum-through-
    ties and tie-count share one sort per axis; no marginal join
    exists at all), and the five raw moments reduce in a single
    groupBy that reuses the grp distribution. The centered moments
    come out via the exact integer identities
      Σw·dx·dy = n²·Σw·rx·ry − n·sx·sy,
      Σw·dx²  = n²·Σw·rx²  − n·sx²
    (dx = n·rx − sx — the ts_autocorr pre-centering trick, so every
    sum is exact; wide products in DECIMAL(38,0)/HUGEINT, r10 overflow
    discipline); the only float op is the final r4-floored ratio.
    Degenerate guard: a group with zero rank variance (all-tied)
    reports rho = 0 via an explicit CASE on both engines rather than
    a divergent 0/0. Plan: 2 exchanges total (bin agg, grp
    redistribution), linear — no joins, no persisted intermediates.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = li.selectExpr(
        "l_returnflag AS grp",
        "CAST(l_quantity AS BIGINT) AS x",
        "CAST(floor(l_quantity * l_extendedprice / 1000) AS BIGINT) AS y",
    ).groupBy("grp", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )

    def _rank2(col: str) -> F.Column:
        # Doubled average rank of the marginal value `col`, evaluated on
        # every joint row: 2·cum_below + cnt + 1 == 2·cum_through_ties
        # − cnt + 1. RANGE frames make both terms tie-aware and the two
        # frames share one (grp, col) sort — no marginal relation, no
        # join.
        wv = Window.partitionBy("grp").orderBy(col)
        cum_le = F.sum("w").over(
            wv.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cnt = F.sum("w").over(wv.rangeBetween(0, 0))
        return 2 * cum_le - cnt + 1

    ranked = joint.select(
        "grp",
        "w",
        _rank2("x").cast("bigint").alias("rx2"),
        _rank2("y").cast("bigint").alias("ry2"),
    )
    mom = ranked.groupBy("grp").agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr("w * rx2")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("w * ry2")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * rx2 * ry2")).alias("sxy_r"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * rx2 * rx2")).alias("sxx_r"),
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * ry2 * ry2")).alias("syy_r"),
    )
    return mom.selectExpr(
        "grp",
        "n",
        "n * n * sxy_r - n * sx * sy AS sxy",
        "n * n * sxx_r - n * sx * sx AS sxx",
        "n * n * syy_r - n * sy * sy AS syy",
    ).selectExpr(
        "grp AS l_returnflag",
        "n AS n_rows",
        "CASE WHEN sxx = 0 OR syy = 0 THEN CAST(0 AS DOUBLE)"
        " ELSE floor(CAST(sxy AS DOUBLE)"
        " / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))"
        " * 10000 + 0.5) / 10000 END AS spearman_rho",
    ).orderBy("l_returnflag")


# --- r12 growth: multiclass evaluation report ------------------------------
#
# Predicted labels are a planted deterministic corruption of the truth
# (keep with p≈0.7 on a Weyl-style integer hash, else rotate by
# 1 + vec_id%3 classes), so the report's recovered accuracy is testable
# against the planted rate instead of certifying noise — the ml_roc_auc
# planted-signal convention.
_CLS_PRED_SQL = (
    "CASE WHEN (vec_id % 1048576) * 2654435761 % 10 < 7 THEN label"
    " ELSE (label + 1 + vec_id % 3) % 10 END"
)


@register(
    "ml_classification_report",
    category="similarity",
    oracle=f"""
    WITH preds AS (
      SELECT label AS t, {_CLS_PRED_SQL} AS p
      FROM embeddings
    ),
    cm AS (
      SELECT t, p, CAST(count(*) AS BIGINT) AS c FROM preds GROUP BY 1, 2
    ),
    classes AS (
      SELECT t AS cls FROM cm UNION SELECT p AS cls FROM cm
    ),
    rowt AS (SELECT t AS cls, CAST(sum(c) AS BIGINT) AS rt FROM cm GROUP BY 1),
    colt AS (SELECT p AS cls, CAST(sum(c) AS BIGINT) AS ct FROM cm GROUP BY 1),
    diag AS (
      SELECT t AS cls, CAST(sum(c) AS BIGINT) AS tp FROM cm
      WHERE t = p GROUP BY 1
    ),
    percls AS (
      SELECT k.cls,
             coalesce(d.tp, 0) AS tp,
             coalesce(r.rt, 0) AS support,
             coalesce(c.ct, 0) - coalesce(d.tp, 0) AS fp,
             coalesce(r.rt, 0) - coalesce(d.tp, 0) AS fn
      FROM classes k
      LEFT JOIN rowt r ON r.cls = k.cls
      LEFT JOIN colt c ON c.cls = k.cls
      LEFT JOIN diag d ON d.cls = k.cls
    ),
    gtot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN t = p THEN c ELSE 0 END) AS BIGINT) AS ntp
      FROM cm
    ),
    pe AS (
      SELECT CAST(sum(r.rt * c.ct) AS BIGINT) AS pe_num
      FROM rowt r JOIN colt c ON c.cls = r.cls
    )
    SELECT pc.cls AS label, pc.support, pc.tp, pc.fp, pc.fn,
           CASE WHEN pc.tp + pc.fp = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor(CAST(pc.tp AS DOUBLE)
                     / (pc.tp + pc.fp) * 10000 + 0.5) / 10000
           END AS precision_,
           CASE WHEN pc.support = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor(CAST(pc.tp AS DOUBLE)
                     / pc.support * 10000 + 0.5) / 10000
           END AS recall_,
           CASE WHEN 2 * pc.tp + pc.fp + pc.fn = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor(CAST(2 * pc.tp AS DOUBLE)
                     / (2 * pc.tp + pc.fp + pc.fn) * 10000 + 0.5) / 10000
           END AS f1,
           floor(CAST(g.ntp AS DOUBLE) / g.n * 10000 + 0.5) / 10000
             AS accuracy,
           floor((CAST(g.n AS DOUBLE) * g.ntp - e.pe_num)
                 / (CAST(g.n AS DOUBLE) * g.n - e.pe_num)
                 * 10000 + 0.5) / 10000 AS cohens_kappa
    FROM percls pc CROSS JOIN gtot g CROSS JOIN pe e
    ORDER BY label
    """,
)
def ml_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTICLASS CLASSIFICATION REPORT (per-class precision / recall /
    F1 + support, global accuracy and Cohen's kappa) — the sklearn
    `classification_report` + `cohen_kappa_score` pair as a pure
    relational program, the eval stage every labeling / distillation
    pipeline runs after batch-scoring a corpus. All counts come from
    ONE hash aggregate to the (true, pred) confusion relation —
    bounded by the label-domain square (≤100 cells), not row count —
    and every metric is integer arithmetic over those cells with one
    r4-floored division each. Kappa's chance-agreement term uses the
    exact integer identity (N·Σtp − Σ_c row_c·col_c) / (N² − Σ_c
    row_c·col_c), so no float accumulates across cells. Classes seen
    only in predictions still get a row (recall 0 by CASE, not 0/0 —
    engines diverge on bare /0, the r11 ADVICE class).

    Scale shape: one map-side-combined groupBy over the scan, then
    all joins/windows live on the ≤(k²+2k)-cell relation broadcast
    everywhere — at 100 TB the confusion matrix still has 100 cells.
    """
    emb = load(spark, sf_dir, "embeddings")
    cm = (
        emb.selectExpr("label AS t", f"{_CLS_PRED_SQL} AS p")
        .groupBy("t", "p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    classes = (
        cm.selectExpr("t AS cls").union(cm.selectExpr("p AS cls")).distinct()
    )
    rowt = cm.groupBy(F.col("t").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("rt")
    )
    colt = cm.groupBy(F.col("p").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("ct")
    )
    diag = (
        cm.filter("t = p")
        .groupBy(F.col("t").alias("cls"))
        .agg(F.sum("c").cast("bigint").alias("tp"))
    )
    percls = (
        classes.join(F.broadcast(rowt), "cls", "left")
        .join(F.broadcast(colt), "cls", "left")
        .join(F.broadcast(diag), "cls", "left")
        .selectExpr(
            "cls",
            "coalesce(tp, 0L) AS tp",
            "coalesce(rt, 0L) AS support",
            "coalesce(ct, 0L) - coalesce(tp, 0L) AS fp",
            "coalesce(rt, 0L) - coalesce(tp, 0L) AS fn",
        )
    )
    glob = cm.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN t = p THEN c ELSE 0 END"))
        .cast("bigint")
        .alias("ntp"),
    )
    pe = (
        rowt.join(colt, "cls")
        .agg(F.sum(F.expr("rt * ct")).cast("bigint").alias("pe_num"))
    )
    out = (
        percls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(pe))
        .selectExpr(
            "cls AS label",
            "support",
            "tp",
            "fp",
            "fn",
            "CASE WHEN tp + fp = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE floor(CAST(tp AS DOUBLE) / (tp + fp) * 10000 + 0.5)"
            " / 10000 END AS precision_",
            "CASE WHEN support = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE floor(CAST(tp AS DOUBLE) / support * 10000 + 0.5)"
            " / 10000 END AS recall_",
            "CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)"
            " * 10000 + 0.5) / 10000 END AS f1",
            "floor(CAST(ntp AS DOUBLE) / n * 10000 + 0.5) / 10000"
            " AS accuracy",
            "floor((CAST(n AS DOUBLE) * ntp - pe_num)"
            " / (CAST(n AS DOUBLE) * n - pe_num) * 10000 + 0.5) / 10000"
            " AS cohens_kappa",
        )
        .orderBy("label")
    )
    return out


# --- r12 growth: banded gains/lift table ------------------------------------


@register(
    "ml_lift_curve_deciles",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_ROC_ROWS_SQL}),
    banded AS (
      SELECT (s - 1) // 5 AS band,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM rows_in GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n_pos) AS BIGINT) AS np
      FROM banded
    ),
    cum AS (
      SELECT band, n, n_pos,
             CAST(sum(n) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_n,
             CAST(sum(n_pos) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pos
      FROM banded
    )
    SELECT c.band, c.n, c.n_pos,
           floor(CAST(c.n_pos AS DOUBLE) / c.n * 10000 + 0.5) / 10000
             AS response_rate,
           floor(CAST(c.n_pos AS DOUBLE) * t.nn
                 / (CAST(c.n AS DOUBLE) * t.np) * 10000 + 0.5) / 10000
             AS lift,
           floor(CAST(c.cum_pos AS DOUBLE) / t.np * 10000 + 0.5) / 10000
             AS cum_capture,
           floor(CAST(c.cum_pos AS DOUBLE) * t.nn
                 / (CAST(c.cum_n AS DOUBLE) * t.np) * 10000 + 0.5) / 10000
             AS cum_lift
    FROM cum c CROSS JOIN tot t
    ORDER BY c.band DESC
    """,
)
def ml_lift_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAINS / LIFT TABLE over score bands — the campaign-targeting
    eval (who do we contact first?) that complements ROC/PR: scores
    band into 10 equal-width buckets of the bounded quantity domain
    (band = (s−1) div 5 over s ∈ 1..50 — the BANDED variant; true
    equal-POPULATION deciles need a global rank, which this repo's
    bounded-domain discipline replaces with domain bands exactly as
    ml_roc_auc bins Mann-Whitney), and each band reports response
    rate, lift vs the global rate, and top-down cumulative capture /
    lift (descending-band cumulative window over the ≤10-row band
    relation). Labels are ml_roc_auc's planted monotone signal, so
    the invariant test asserts monotone-ish lift rather than noise.

    Exactness: every statistic is a ratio of exact BIGINTs with one
    r4-floored float division each — counts aggregate map-side to the
    10-band relation; no row-level window, no float accumulates.
    Scale: ONE scan → ≤10 rows; everything after is free at any size.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761"
        " + l_linenumber * 40503) % 1000"
        " < 150 + 14 * CAST(l_quantity AS BIGINT) THEN 1 ELSE 0 END"
        " AS label",
    )
    banded = li.selectExpr("(s - 1) div 5 AS band", "label").groupBy(
        "band"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    tot = banded.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_pos").cast("bigint").alias("np"),
    )
    w = (
        Window.orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = banded.select(
        "band",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(
            "band",
            "n",
            "n_pos",
            "floor(CAST(n_pos AS DOUBLE) / n * 10000 + 0.5) / 10000"
            " AS response_rate",
            "floor(CAST(n_pos AS DOUBLE) * nn / (CAST(n AS DOUBLE) * np)"
            " * 10000 + 0.5) / 10000 AS lift",
            "floor(CAST(cum_pos AS DOUBLE) / np * 10000 + 0.5) / 10000"
            " AS cum_capture",
            "floor(CAST(cum_pos AS DOUBLE) * nn"
            " / (CAST(cum_n AS DOUBLE) * np) * 10000 + 0.5) / 10000"
            " AS cum_lift",
        )
        .orderBy(F.col("band").desc())
    )


# --- r12 extension wave: Murphy decomposition of the Brier score -------------


@register(
    "ml_brier_decomposition",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({{roc_rows}}),
    bins AS (
      SELECT (150 + 14 * s) // 100 AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(sum(150 + 14 * s) AS BIGINT) AS sp,
             CAST(sum(CAST(150 + 14 * s AS HUGEINT)
                      * (150 + 14 * s)) AS HUGEINT) AS spp,
             CAST(sum((150 + 14 * s) * label) AS BIGINT) AS spy
      FROM rows_in GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum(spp) AS HUGEINT) AS sum_spp,
             CAST(sum(spy) AS BIGINT) AS sum_spy,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM bins
    ),
    terms AS (
      SELECT b.bin,
             CAST(floor(CAST((CAST(b.pos AS HUGEINT) * 1000 - b.sp)
                             * (CAST(b.pos AS HUGEINT) * 1000 - b.sp)
                        AS DOUBLE) / CAST(b.n AS DOUBLE) + 0.5)
                  AS BIGINT) AS rel_q,
             CAST(floor(CAST((CAST(b.pos AS HUGEINT) * t.nn
                              - CAST(b.n AS HUGEINT) * t.p)
                             * (CAST(b.pos AS HUGEINT) * t.nn
                                - CAST(b.n AS HUGEINT) * t.p)
                        AS DOUBLE) / CAST(b.n AS DOUBLE)
                        / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE))
                        * 1000000e0 + 0.5) AS BIGINT) AS res_q,
             CAST(floor(CAST(CAST(b.n AS HUGEINT) * b.spp
                             - CAST(b.sp AS HUGEINT) * b.sp
                        AS DOUBLE) / CAST(b.n AS DOUBLE) + 0.5)
                  AS BIGINT) AS wbv_q,
             CAST(floor(CAST(1000 * (CAST(b.n AS HUGEINT) * b.spy
                             - CAST(b.sp AS HUGEINT) * b.pos)
                        AS DOUBLE) / CAST(b.n AS DOUBLE) + 0.5)
                  AS BIGINT) AS wbc_q
      FROM bins b CROSS JOIN tot t
    )
    SELECT t.nn AS n_rows,
           t.n_bins,
           floor((CAST(t.sum_spp AS DOUBLE)
                  - 2000e0 * CAST(t.sum_spy AS DOUBLE)
                  + 1000000e0 * CAST(t.p AS DOUBLE))
                 / (CAST(t.nn AS DOUBLE) * 1000000e0)
                 * 1000000 + 0.5) / 1000000 AS brier,
           floor(CAST(s.rel AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1000000e0)
                 * 1000000 + 0.5) / 1000000 AS reliability,
           floor(CAST(s.res AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1000000e0)
                 * 1000000 + 0.5) / 1000000 AS resolution,
           floor(CAST(t.p AS DOUBLE) * (t.nn - t.p)
                 / (CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS uncertainty,
           floor(CAST(s.wbv AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1000000e0)
                 * 1000000 + 0.5) / 1000000 AS within_bin_var,
           floor(CAST(s.wbc AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1000000e0)
                 * 1000000 + 0.5) / 1000000 AS within_bin_cov
    FROM tot t
    CROSS JOIN (SELECT CAST(sum(rel_q) AS BIGINT) AS rel,
                       CAST(sum(res_q) AS BIGINT) AS res,
                       CAST(sum(wbv_q) AS BIGINT) AS wbv,
                       CAST(sum(wbc_q) AS BIGINT) AS wbc
                FROM terms) s
    """.format(roc_rows=_ROC_ROWS_SQL),
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MURPHY DECOMPOSITION of the Brier score for the planted
    probability model behind ml_roc_auc / ml_calibration_bins:
    Brier = REL − RES + UNC + WBV − 2·WBC, where reliability
    penalizes miscalibration per forecast bin, resolution rewards bins
    whose outcome rate departs from the base rate, uncertainty is the
    irreducible y(1−y) variance of the outcome, and the within-bin
    variance/covariance terms account for grouping NON-CONSTANT
    forecasts into decile bins (the generalized decomposition of
    Stephenson, Coelho & Jolliffe 2008 — Murphy's 3-term textbook
    identity only holds when forecasts are constant within bins, and
    silently fails to add up otherwise, which is exactly the subtlety
    this op surfaces). The op emits all six; the invariant test
    re-derives the identity EXACTLY with python Fractions from the
    same integer aggregates, so a transposed moment or a dropped term
    cannot survive.

    Determinism: per-bin aggregates are exact integers (milli-prob
    sums, their squares in DECIMAL(38,0)/HUGEINT); Brier and
    uncertainty come from GLOBAL integer sums in one pinned double
    expression each; reliability/resolution/within-bin-variance
    quantize each per-bin term to integer units before the cross-bin
    sum (the ml_calibration_bins ECE device), so every emitted number
    is one final division over exact integers on both engines.

    Scale shape: ONE map-side-combinable groupBy collapses the scan to
    <= 9 decile bins; everything after is bin-sized. The only float
    ops are the final display divisions.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS s",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761"
        " + l_linenumber * 40503) % 1000"
        " < 150 + 14 * CAST(l_quantity AS BIGINT) THEN 1 ELSE 0 END AS label",
    )
    wide = "DECIMAL(38,0)"
    bins = li.groupBy(F.expr("(150 + 14 * s) div 100").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
        F.sum(F.expr("150 + 14 * s")).cast("bigint").alias("sp"),
        F.sum(
            F.expr(f"CAST(150 + 14 * s AS {wide}) * (150 + 14 * s)")
        ).alias("spp"),
        F.sum(F.expr("(150 + 14 * s) * label")).cast("bigint").alias("spy"),
    )
    tot = bins.groupBy().agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("spp").cast(wide).alias("sum_spp"),
        F.sum("spy").cast("bigint").alias("sum_spy"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).selectExpr(
        "bin",
        f"CAST(floor(CAST((CAST(pos AS {wide}) * 1000 - sp)"
        f" * (CAST(pos AS {wide}) * 1000 - sp) AS DOUBLE)"
        " / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS rel_q",
        f"CAST(floor(CAST((CAST(pos AS {wide}) * nn"
        f" - CAST(n AS {wide}) * p)"
        f" * (CAST(pos AS {wide}) * nn - CAST(n AS {wide}) * p)"
        " AS DOUBLE) / CAST(n AS DOUBLE)"
        " / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))"
        " * 1000000e0 + 0.5) AS BIGINT) AS res_q",
        f"CAST(floor(CAST(CAST(n AS {wide}) * spp"
        f" - CAST(sp AS {wide}) * sp AS DOUBLE)"
        " / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS wbv_q",
        f"CAST(floor(CAST(1000 * (CAST(n AS {wide}) * spy"
        f" - CAST(sp AS {wide}) * pos) AS DOUBLE)"
        " / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS wbc_q",
    )
    sums = terms.groupBy().agg(
        F.sum("rel_q").cast("bigint").alias("rel"),
        F.sum("res_q").cast("bigint").alias("res"),
        F.sum("wbv_q").cast("bigint").alias("wbv"),
        F.sum("wbc_q").cast("bigint").alias("wbc"),
    )
    return tot.crossJoin(F.broadcast(sums)).selectExpr(
        "nn AS n_rows",
        "n_bins",
        "floor((CAST(sum_spp AS DOUBLE) - 2000e0 * CAST(sum_spy AS DOUBLE)"
        " + 1000000e0 * CAST(p AS DOUBLE))"
        " / (CAST(nn AS DOUBLE) * 1000000e0)"
        " * 1000000 + 0.5) / 1000000 AS brier",
        "floor(CAST(rel AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000e0)"
        " * 1000000 + 0.5) / 1000000 AS reliability",
        "floor(CAST(res AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000e0)"
        " * 1000000 + 0.5) / 1000000 AS resolution",
        "floor(CAST(p AS DOUBLE) * (nn - p)"
        " / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))"
        " * 1000000 + 0.5) / 1000000 AS uncertainty",
        "floor(CAST(wbv AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000e0)"
        " * 1000000 + 0.5) / 1000000 AS within_bin_var",
        "floor(CAST(wbc AS DOUBLE) / (CAST(nn AS DOUBLE) * 1000000e0)"
        " * 1000000 + 0.5) / 1000000 AS within_bin_cov",
    )


# --- r12 extension wave: McNemar's paired classifier test --------------------

# Paired predictions over the planted outcome: classifier A thresholds
# the generative score itself (quantity >= 25 <=> p >= 0.5), classifier
# B thresholds a feature the generator never consults (discount >= 5%),
# so A beats B and the off-diagonal asymmetry b >> c is real. Both
# engines see the identical relation.
_MCNEMAR_ROWS_SQL = """
      SELECT l_returnflag AS grp,
             CASE WHEN ((l_orderkey % 1048576) * 2654435761
                        + l_linenumber * 40503) % 1000
                  < 150 + 14 * CAST(l_quantity AS BIGINT)
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS pred_a,
             CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT) >= 5
                  THEN 1 ELSE 0 END AS pred_b
      FROM lineitem
"""


@register(
    "ml_mcnemar_paired",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_MCNEMAR_ROWS_SQL}),
    cells AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pred_a = y AND pred_b = y
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN pred_a = y AND pred_b <> y
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_only_a,
             CAST(sum(CASE WHEN pred_a <> y AND pred_b = y
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_only_b,
             CAST(sum(CASE WHEN pred_a <> y AND pred_b <> y
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
      FROM rows_in GROUP BY grp
    )
    SELECT grp AS l_returnflag, n, n_both, b_only_a, c_only_b, n_neither,
           floor(CAST(n_both + b_only_a AS DOUBLE) / n * 10000 + 0.5)
             / 10000 AS acc_a,
           floor(CAST(n_both + c_only_b AS DOUBLE) / n * 10000 + 0.5)
             / 10000 AS acc_b,
           CASE WHEN b_only_a + c_only_b > 0 THEN
             floor(CAST((b_only_a - c_only_b) * (b_only_a - c_only_b)
                   AS DOUBLE) / (b_only_a + c_only_b) * 10000 + 0.5)
               / 10000
           END AS chi2,
           b_only_a + c_only_b > 0
             AND CAST((b_only_a - c_only_b) * (b_only_a - c_only_b)
                 AS DOUBLE) / (b_only_a + c_only_b) > 3.8415e0
             AS significant
    FROM cells
    ORDER BY l_returnflag
    """,
)
def ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST for paired classifiers — the correct significance
    test when two models are evaluated on the SAME rows (a two-
    proportion z-test ignores the pairing and is anticonservative):
    only the discordant off-diagonal counts carry information,
    chi2 = (b−c)²/(b+c) with b = A-right/B-wrong, c = A-wrong/B-right,
    1 df, 5% critical value 3.8415. Classifier A thresholds the
    planted generative feature (quantity ≥ 25 ⟺ p ≥ 0.5), classifier
    B thresholds discount — a feature the label generator never reads —
    so the asymmetry is real by construction and the invariant test
    can assert both the winner and the 2×2 partition identity
    (n_both + b + c + n_neither = n per group).

    Exactness: the whole statistic is a ratio of exact integer counts;
    the only float ops are the two r4 display divisions and the fixed
    3.8415 threshold comparison (both sides compute the same double
    from the same integers). NULL chi2 when b + c = 0 — the degenerate
    identical-classifiers case, same CASE both engines.

    Scale shape: one map-side-combinable groupBy over the scan to 3
    grp rows; nothing downstream is data-sized.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS grp",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761"
        " + l_linenumber * 40503) % 1000"
        " < 150 + 14 * CAST(l_quantity AS BIGINT) THEN 1 ELSE 0 END AS y",
        "CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS pred_a",
        "CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT) >= 5"
        " THEN 1 ELSE 0 END AS pred_b",
    )
    cells = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN pred_a = y AND pred_b = y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_both"),
        F.sum(
            F.expr("CASE WHEN pred_a = y AND pred_b <> y THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("b_only_a"),
        F.sum(
            F.expr("CASE WHEN pred_a <> y AND pred_b = y THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("c_only_b"),
        F.sum(
            F.expr("CASE WHEN pred_a <> y AND pred_b <> y THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_neither"),
    )
    return cells.selectExpr(
        "grp AS l_returnflag",
        "n",
        "n_both",
        "b_only_a",
        "c_only_b",
        "n_neither",
        "floor(CAST(n_both + b_only_a AS DOUBLE) / n * 10000 + 0.5)"
        " / 10000 AS acc_a",
        "floor(CAST(n_both + c_only_b AS DOUBLE) / n * 10000 + 0.5)"
        " / 10000 AS acc_b",
        "CASE WHEN b_only_a + c_only_b > 0 THEN"
        " floor(CAST((b_only_a - c_only_b) * (b_only_a - c_only_b)"
        " AS DOUBLE) / (b_only_a + c_only_b) * 10000 + 0.5) / 10000"
        " END AS chi2",
        "b_only_a + c_only_b > 0"
        " AND CAST((b_only_a - c_only_b) * (b_only_a - c_only_b)"
        " AS DOUBLE) / (b_only_a + c_only_b) > 3.8415e0 AS significant",
    ).orderBy("l_returnflag")


# --- r12 extension wave: Kendall tau-b rank correlation ----------------------


@register(
    "ml_kendall_tau",
    category="similarity",
    oracle="""
    WITH joint AS (
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_quantity * l_extendedprice / 10000) AS BIGINT)
               AS y,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2, 3
    ),
    xs AS (SELECT DISTINCT grp, x FROM joint),
    ys AS (SELECT DISTINCT grp, y FROM joint),
    grid AS (
      SELECT xs.grp, xs.x, ys.y, coalesce(j.w, 0) AS w
      FROM xs JOIN ys ON ys.grp = xs.grp
      LEFT JOIN joint j ON j.grp = xs.grp AND j.x = xs.x AND j.y = ys.y
    ),
    p AS (
      SELECT grp, x, y, w,
             coalesce(sum(w) OVER (PARTITION BY grp, y ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_xlt
      FROM grid
    ),
    d AS (
      SELECT grp, x, y, w, cum_xlt,
             coalesce(sum(cum_xlt) OVER (PARTITION BY grp, x ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS dom,
             sum(cum_xlt) OVER (PARTITION BY grp, x) AS tx
      FROM p
    ),
    sums AS (
      SELECT grp,
             CAST(sum(w) AS BIGINT) AS n,
             CAST(sum(CAST(w AS HUGEINT) * dom) AS HUGEINT) AS conc,
             CAST(sum(CAST(w AS HUGEINT) * (tx - dom - cum_xlt))
                  AS HUGEINT) AS disc,
             CAST(sum(CAST(w AS HUGEINT) * (w - 1) // 2) AS HUGEINT)
               AS tie_xy
      FROM d GROUP BY grp
    ),
    tiex AS (
      SELECT grp, CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS HUGEINT)
               AS tie_x
      FROM (SELECT grp, x, sum(w) AS t FROM joint GROUP BY 1, 2)
      GROUP BY grp
    ),
    tiey AS (
      SELECT grp, CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS HUGEINT)
               AS tie_y
      FROM (SELECT grp, y, sum(w) AS t FROM joint GROUP BY 1, 2)
      GROUP BY grp
    )
    SELECT s.grp AS l_returnflag,
           s.n AS n_rows,
           CAST(s.conc AS BIGINT) AS concordant,
           CAST(s.disc AS BIGINT) AS discordant,
           CAST(tx.tie_x AS BIGINT) AS tie_x_pairs,
           CAST(ty.tie_y AS BIGINT) AS tie_y_pairs,
           CAST(s.tie_xy AS BIGINT) AS tie_xy_pairs,
           CASE WHEN CAST(s.n AS HUGEINT) * (s.n - 1) // 2 > tx.tie_x
                 AND CAST(s.n AS HUGEINT) * (s.n - 1) // 2 > ty.tie_y
                THEN floor(
                  (CAST(s.conc AS DOUBLE) - CAST(s.disc AS DOUBLE))
                  / sqrt(
                      CAST(CAST(s.n AS HUGEINT) * (s.n - 1) // 2 - tx.tie_x
                           AS DOUBLE)
                      * CAST(CAST(s.n AS HUGEINT) * (s.n - 1) // 2 - ty.tie_y
                             AS DOUBLE))
                  * 10000 + 0.5) / 10000
           END AS tau_b
    FROM sums s
    JOIN tiex tx ON tx.grp = s.grp
    JOIN tiey ty ON ty.grp = s.grp
    ORDER BY s.grp
    """,
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL TAU-B (tie-corrected, per l_returnflag) between order
    quantity and line revenue (qty x price, the ml_spearman_rho
    pair; raw price is INDEPENDENT of quantity under this generator —
    measured tau 0.005 — so revenue is the planted monotone link) —
    the concordance-based companion to
    ml_spearman_rho (tau is more robust to outliers and has a direct
    probabilistic reading: P(concordant) − P(discordant)). The whole
    statistic reduces to exact integer pair counting on the bounded
    joint domain via a DENSE-GRID DOUBLE CUMULATIVE: materialize the
    (quantity × deka-dollar-revenue) grid (≤ 50 × ~500 cells/group), take the
    running sum over x within each y column (cum_xlt = pairs strictly
    below in x at that y), then the running sum of THAT over y within
    each x row (dom = pairs strictly below in both coordinates).
    Concordant pairs C = Σ w·dom; discordant pairs fall out by
    complement within the x-dominated slab (tx − dom − cum_xlt, where
    tx = all pairs with smaller x); tie corrections from the marginals.
    tau_b = (C − D)/sqrt((n0 − n1)(n0 − n2)). Every pair of rows is
    counted exactly once at its larger-x cell, which the invariant
    test pins via the exhaustive identity C + D + ties = n(n−1)/2.

    Exactness: all counts are integers (wide products in
    DECIMAL(38,0)/HUGEINT); the only float op is the final r4-floored
    ratio whose sqrt sees identical integers on both engines.
    Degenerate guard: a group fully tied on either variable emits NULL
    tau via the same CASE both sides.

    Scale shape: ONE data-sized hash aggregate collapses the scan to
    the joint-domain cells; the grid (a per-group cartesian of two
    bounded DOMAINS built from collect_set arrays, not data) and its
    two layered window passes are O(|x-domain| × |y-domain|)
    regardless of row count — the ml_spearman_rho bounded-domain
    argument with a 2-D cumulative instead of rank windows. The tie
    marginals ride the same window partitions via representative rows
    (rn = 1), so the whole statistic is one aggregate + two window
    exchanges with no side joins.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.selectExpr(
            "l_returnflag AS grp",
            "CAST(l_quantity AS BIGINT) AS x",
            "CAST(floor(l_quantity * l_extendedprice / 10000)"
            " AS BIGINT) AS y",
        )
        .groupBy("grp", "x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # joint stays LAZY: its two consumers (doms, the grid left join)
    # share an identical subtree, so ReuseExchange deduplicates the
    # fact aggregate at runtime — persist() measured 0.5 s slower
    # (materialization job + cache write for a relation each consumer
    # only streams once).
    # Dense grid from per-group DOMAIN ARRAYS (one tiny 3-row aggregate
    # + two explodes) instead of two distinct() legs joined per group —
    # r15: removes two exchanges and one join from the plan.
    doms = joint.groupBy("grp").agg(
        F.array_sort(F.collect_set("x")).alias("xa"),
        F.array_sort(F.collect_set("y")).alias("ya"),
    )
    grid = (
        doms.select("grp", F.explode("xa").alias("x"), "ya")
        .select("grp", "x", F.explode("ya").alias("y"))
        .join(joint, ["grp", "x", "y"], "left")
        .selectExpr("grp", "x", "y", "coalesce(w, 0) AS w")
    )
    # Layered windows: the tie marginals (tie_y per (grp,y) column,
    # tie_x per (grp,x) row) ride the SAME two window partitions the
    # double cumulative already needs — a representative row (rn = 1)
    # carries each marginal's t(t-1)/2 term into the final aggregate,
    # replacing the two aggregate legs + broadcast joins of the
    # pre-r15 shape (profile_cramers_v device).
    w_xlt = (
        Window.partitionBy("grp", "y")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ycol = Window.partitionBy("grp", "y")
    p = grid.select(
        "grp",
        "x",
        "y",
        "w",
        F.coalesce(F.sum("w").over(w_xlt), F.lit(0)).alias("cum_xlt"),
        F.row_number()
        .over(Window.partitionBy("grp", "y").orderBy("x"))
        .alias("rn_y"),
        F.sum("w").over(w_ycol).alias("t_y"),
    )
    w_dom = (
        Window.partitionBy("grp", "x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tx = Window.partitionBy("grp", "x")
    d = p.select(
        "grp",
        "x",
        "y",
        "w",
        "cum_xlt",
        "rn_y",
        "t_y",
        F.coalesce(F.sum("cum_xlt").over(w_dom), F.lit(0)).alias("dom"),
        F.sum("cum_xlt").over(w_tx).alias("tx"),
        F.row_number()
        .over(Window.partitionBy("grp", "x").orderBy("y"))
        .alias("rn_x"),
        F.sum("w").over(w_tx).alias("t_x"),
    )
    wide = "DECIMAL(38,0)"
    sums = d.groupBy("grp").agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.expr(f"CAST(w AS {wide}) * dom")).alias("conc"),
        F.sum(F.expr(f"CAST(w AS {wide}) * (tx - dom - cum_xlt)")).alias(
            "disc"
        ),
        F.sum(F.expr(f"CAST(w AS {wide}) * (w - 1) div 2")).alias("tie_xy"),
        F.sum(
            F.expr(
                "CASE WHEN rn_x = 1 THEN"
                f" CAST(t_x AS {wide}) * (t_x - 1) div 2 ELSE 0 END"
            )
        ).alias("tie_x"),
        F.sum(
            F.expr(
                "CASE WHEN rn_y = 1 THEN"
                f" CAST(t_y AS {wide}) * (t_y - 1) div 2 ELSE 0 END"
            )
        ).alias("tie_y"),
    )
    n0 = f"CAST(n AS {wide}) * (n - 1) div 2"
    out = (
        sums.selectExpr(
            "grp AS l_returnflag",
            "n AS n_rows",
            "CAST(conc AS BIGINT) AS concordant",
            "CAST(disc AS BIGINT) AS discordant",
            "CAST(tie_x AS BIGINT) AS tie_x_pairs",
            "CAST(tie_y AS BIGINT) AS tie_y_pairs",
            "CAST(tie_xy AS BIGINT) AS tie_xy_pairs",
            f"CASE WHEN {n0} > tie_x AND {n0} > tie_y THEN"
            " floor((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))"
            f" / sqrt(CAST({n0} - tie_x AS DOUBLE)"
            f"        * CAST({n0} - tie_y AS DOUBLE))"
            " * 10000 + 0.5) / 10000"
            " END AS tau_b",
        )
        .orderBy("l_returnflag")
    )
    return out


# --- r12 extension wave I: OLS learning curve -----------------------------------


@register(
    "ml_learning_curve_ols",
    category="similarity",
    oracle="""
    WITH rows_in AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT) AS y,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 4
               AS h
      FROM lineitem
    ),
    fracs AS (
      SELECT f.f AS frac_pct,
             CAST(count(*) FILTER (WHERE r.h < f.f * 4 // 100)
                  AS BIGINT) AS n,
             CAST(sum(r.x) FILTER (WHERE r.h < f.f * 4 // 100)
                  AS BIGINT) AS sx,
             CAST(sum(r.y) FILTER (WHERE r.h < f.f * 4 // 100)
                  AS BIGINT) AS sy,
             CAST(sum(CAST(r.x AS HUGEINT) * r.y)
                  FILTER (WHERE r.h < f.f * 4 // 100) AS HUGEINT) AS sxy,
             CAST(sum(CAST(r.x AS HUGEINT) * r.x)
                  FILTER (WHERE r.h < f.f * 4 // 100) AS HUGEINT) AS sxx,
             CAST(sum(CAST(r.y AS HUGEINT) * r.y)
                  FILTER (WHERE r.h < f.f * 4 // 100) AS HUGEINT) AS syy
      FROM rows_in r CROSS JOIN (SELECT unnest([25, 50, 100]) AS f) f
      GROUP BY f.f
    ),
    fitted AS (
      SELECT frac_pct, n,
             CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                  * 1000000
                  // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                  AS BIGINT) AS slope_micro,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS gyy,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS gxy,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS gxx
      FROM fracs
    )
    SELECT frac_pct, n AS n_train,
           floor(CAST(slope_micro AS DOUBLE) / 1e6 * 10000 + 0.5) / 10000
             AS slope_net_per_gross,
           floor(sqrt((CAST(gyy AS DOUBLE)
                       - CAST(slope_micro AS DOUBLE) / 1e6
                         * CAST(gxy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * n)) / 100 * 100 + 0.5) / 100
             AS rmse_dollars,
           floor(CAST(gxy AS DOUBLE) * CAST(gxy AS DOUBLE)
                 / (CAST(gxx AS DOUBLE) * CAST(gyy AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS r_squared
    FROM fitted
    ORDER BY frac_pct
    """,
)
def ml_learning_curve_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS LEARNING CURVE — model quality vs training-set size (25%,
    50%, 100% nested portable-hash slices): the diagnostic that
    separates "need more data" from "need more features" (train error
    flat across sizes = bias-limited; here R² must be stable while the
    SLOPE estimate converges, both pinned). The fitted pair is gross
    line price → discounted price, whose true slope is the mean
    discount complement (~0.95) — a strongly-linear planted relation,
    chosen after the first cut (quantity → price) measured slope
    swings of 60% between nested samples: unit price dominates that
    pair and the convergence pin was unverifiable. The scale trick: all three
    fits come from ONE pass — moments aggregate per md5 % 4 BUCKET
    (4 groups, each row visited once) and the nested slices h < 1,
    h < 2, h < 4 roll up from the 4 bucket rows, so the learning curve
    costs one aggregate regardless of how many fractions it sweeps.

    Determinism: slices use the cross-engine md5 hash family (the
    dedup_minhash_banded bridge); moments are exact wide integers;
    the slope is a micro-quantized integer ratio; RMSE and R² are
    pinned double expressions over those integers (R² via the
    gxy²/(gxx·gyy) identity — no per-row residual pass).

    Scale shape: one map-side-combinable aggregate (3-row output);
    nothing else touches data.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
        " AS BIGINT) AS y",
        "CAST(conv(substr(md5(CAST(l_orderkey AS STRING) || '-'"
        " || CAST(l_linenumber AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        " % 4 AS h",
    )
    wide = "DECIMAL(38,0)"
    # r15: aggregate per md5 BUCKET h (4 groups, map-side combined — each
    # row visits the aggregate ONCE), then roll the nested fractions up
    # from the ≤4 bucket rows (h < 1 ⊂ h < 2 ⊂ h < 4 are prefix unions
    # of buckets, and every moment is an associative integer sum). The
    # previous crossJoin×filter streamed 1.75× lineitem through the
    # wide-decimal aggregate (measured 2.18 s for the core vs 1.02 s
    # bucketed). Per-row products stay in BIGINT — x, y are
    # domain-bounded cents (≤ ~1e7, product < 2^48 at ANY scale factor),
    # only the accumulators need DECIMAL(38,0).
    buckets = li.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x * y AS {wide})")).alias("sxy"),
        F.sum(F.expr(f"CAST(x * x AS {wide})")).alias("sxx"),
        F.sum(F.expr(f"CAST(y * y AS {wide})")).alias("syy"),
    )
    fracs = (
        buckets.select(
            F.explode(
                F.expr("filter(array(25, 50, 100), f -> h < f * 4 div 100)")
            ).alias("frac_pct"),
            "n",
            "sx",
            "sy",
            "sxy",
            "sxx",
            "syy",
        )
        .groupBy("frac_pct")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sx").cast("bigint").alias("sx"),
            F.sum("sy").cast("bigint").alias("sy"),
            F.sum("sxy").cast(wide).alias("sxy"),
            F.sum("sxx").cast(wide).alias("sxx"),
            F.sum("syy").cast(wide).alias("syy"),
        )
    )
    fitted = fracs.selectExpr(
        "frac_pct",
        "n",
        f"CAST((CAST(n AS {wide}) * sxy - CAST(sx AS {wide}) * sy)"
        " * 1000000"
        f" div (CAST(n AS {wide}) * sxx - CAST(sx AS {wide}) * sx)"
        " AS BIGINT) AS slope_micro",
        f"CAST(n AS {wide}) * syy - CAST(sy AS {wide}) * sy AS gyy",
        f"CAST(n AS {wide}) * sxy - CAST(sx AS {wide}) * sy AS gxy",
        f"CAST(n AS {wide}) * sxx - CAST(sx AS {wide}) * sx AS gxx",
    )
    return fitted.selectExpr(
        "frac_pct",
        "n AS n_train",
        "floor(CAST(slope_micro AS DOUBLE) / 1e6 * 10000 + 0.5) / 10000"
        " AS slope_net_per_gross",
        "floor(sqrt((CAST(gyy AS DOUBLE)"
        " - CAST(slope_micro AS DOUBLE) / 1e6 * CAST(gxy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * n)) / 100 * 100 + 0.5) / 100"
        " AS rmse_dollars",
        "floor(CAST(gxy AS DOUBLE) * CAST(gxy AS DOUBLE)"
        " / (CAST(gxx AS DOUBLE) * CAST(gyy AS DOUBLE))"
        " * 10000 + 0.5) / 10000 AS r_squared",
    ).orderBy("frac_pct")


# --- r13 Shapley-attribution promotion (from staging/r13 at round 13) ----
@register(
    "ml_shapley_linear2",
    category="similarity",
    oracle="""
    WITH rows_in AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM rows_in
    ),
    g AS (
      SELECT n,
             CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * s1 AS g11,
             CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * s2 AS g22,
             CAST(n AS HUGEINT) * s12 - CAST(s1 AS HUGEINT) * s2 AS g12,
             CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * sy AS g1y,
             CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * sy AS g2y,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS gyy
      FROM m
    ),
    r2 AS (
      SELECT n,
             CAST(g1y AS DOUBLE) * CAST(g1y AS DOUBLE)
               / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE)) AS v1,
             CAST(g2y AS DOUBLE) * CAST(g2y AS DOUBLE)
               / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) AS v2,
             (CAST(g11 AS DOUBLE) * (CAST(g2y AS DOUBLE)
                                     * CAST(g2y AS DOUBLE))
              + CAST(g22 AS DOUBLE) * (CAST(g1y AS DOUBLE)
                                       * CAST(g1y AS DOUBLE))
              - 2e0 * CAST(g12 AS DOUBLE) * CAST(g1y AS DOUBLE)
                    * CAST(g2y AS DOUBLE))
             / ((CAST(g11 AS DOUBLE) * CAST(g22 AS DOUBLE)
                 - CAST(g12 AS DOUBLE) * CAST(g12 AS DOUBLE))
                * CAST(gyy AS DOUBLE)) AS v12
      FROM g
    )
    SELECT f.feature,
           CAST(r2.n AS BIGINT) AS n_rows,
           floor(CASE f.feature WHEN 'quantity' THEN r2.v1
                 ELSE r2.v2 END * 1000000 + 0.5) / 1000000 AS r2_alone,
           floor(CASE f.feature
                 WHEN 'quantity' THEN
                   0.5e0 * (r2.v1 + (r2.v12 - r2.v2))
                 ELSE 0.5e0 * (r2.v2 + (r2.v12 - r2.v1)) END
                 * 1000000 + 0.5) / 1000000 AS shapley_r2,
           floor(r2.v12 * 1000000 + 0.5) / 1000000 AS r2_full
    FROM r2 CROSS JOIN (SELECT unnest(['quantity', 'discount'])
                        AS feature) f
    ORDER BY f.feature
    """,
)
def ml_shapley_linear2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY ATTRIBUTION of R² between two features (quantity,
    discount) explaining net line price — the LMG / Shapley-
    regression-values decomposition (Lipovetsky & Conklin 2001), which
    is exactly computable with two features: phi_1 = ((v({1}) − v(∅))
    + (v({1,2}) − v({2})))/2 over the R² game, and symmetrically for
    phi_2. Every submodel R² comes in CLOSED FORM from one moment
    aggregate: v({i}) = g_iy²/(g_ii·g_yy) and the two-feature R² from
    the 2×2 normal-equation determinant identity — so the whole
    explanation costs ONE scan pass, no refits.

    Exactness: all moments are exact wide integers; the three R²
    values and both Shapley shares are pinned double expressions over
    them, r6-floored. The invariant test pins the EFFICIENCY axiom
    (phi_1 + phi_2 = R²_full, the Shapley property that makes this
    decomposition meaningful) and the dominance of discount (the
    generator's y literally multiplies by (1 − discount), while
    quantity only correlates through the price column).

    Scale shape: one map-side-combinable aggregate to a single moment
    row; the 2-row feature fan-out is a broadcast literal.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x1",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
        " AS BIGINT) AS y",
    )
    wide = "DECIMAL(38,0)"
    m = li.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x1 AS {wide}) * x1")).alias("s11"),
        F.sum(F.expr(f"CAST(x2 AS {wide}) * x2")).alias("s22"),
        F.sum(F.expr(f"CAST(x1 AS {wide}) * x2")).alias("s12"),
        F.sum(F.expr(f"CAST(x1 AS {wide}) * y")).alias("s1y"),
        F.sum(F.expr(f"CAST(x2 AS {wide}) * y")).alias("s2y"),
        F.sum(F.expr(f"CAST(y AS {wide}) * y")).alias("syy"),
    )
    g = m.selectExpr(
        "n",
        f"CAST(n AS {wide}) * s11 - CAST(s1 AS {wide}) * s1 AS g11",
        f"CAST(n AS {wide}) * s22 - CAST(s2 AS {wide}) * s2 AS g22",
        f"CAST(n AS {wide}) * s12 - CAST(s1 AS {wide}) * s2 AS g12",
        f"CAST(n AS {wide}) * s1y - CAST(s1 AS {wide}) * sy AS g1y",
        f"CAST(n AS {wide}) * s2y - CAST(s2 AS {wide}) * sy AS g2y",
        f"CAST(n AS {wide}) * syy - CAST(sy AS {wide}) * sy AS gyy",
    )
    r2m = g.selectExpr(
        "n",
        "CAST(g1y AS DOUBLE) * CAST(g1y AS DOUBLE)"
        " / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE)) AS v1",
        "CAST(g2y AS DOUBLE) * CAST(g2y AS DOUBLE)"
        " / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) AS v2",
        "(CAST(g11 AS DOUBLE) * (CAST(g2y AS DOUBLE)"
        " * CAST(g2y AS DOUBLE))"
        " + CAST(g22 AS DOUBLE) * (CAST(g1y AS DOUBLE)"
        " * CAST(g1y AS DOUBLE))"
        " - 2e0 * CAST(g12 AS DOUBLE) * CAST(g1y AS DOUBLE)"
        " * CAST(g2y AS DOUBLE))"
        " / ((CAST(g11 AS DOUBLE) * CAST(g22 AS DOUBLE)"
        " - CAST(g12 AS DOUBLE) * CAST(g12 AS DOUBLE))"
        " * CAST(gyy AS DOUBLE)) AS v12",
    )
    feats = spark.range(0, 2).selectExpr(
        "CASE id WHEN 0 THEN 'discount' ELSE 'quantity' END AS feature"
    )
    return (
        r2m.crossJoin(F.broadcast(feats))
        .selectExpr(
            "feature",
            "CAST(n AS BIGINT) AS n_rows",
            "floor(CASE feature WHEN 'quantity' THEN v1 ELSE v2 END"
            " * 1000000 + 0.5) / 1000000 AS r2_alone",
            "floor(CASE feature"
            " WHEN 'quantity' THEN 0.5e0 * (v1 + (v12 - v2))"
            " ELSE 0.5e0 * (v2 + (v12 - v1)) END"
            " * 1000000 + 0.5) / 1000000 AS shapley_r2",
            "floor(v12 * 1000000 + 0.5) / 1000000 AS r2_full",
        )
        .orderBy("feature")
    )


# --- r13 growth: chance-corrected agreement (kappa + MCC) ---------------
@register(
    "ml_cohen_kappa_mcc",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_MCNEMAR_ROWS_SQL}),
    cells AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pred_a = 1 AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred_a = 1 AND y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pred_a = 0 AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN pred_a = 0 AND y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM rows_in GROUP BY grp
    )
    SELECT grp AS l_returnflag, n, tp, fp, fn, tn,
           floor(CAST(tp + tn AS DOUBLE) / n * 1000000 + 0.5)
             / 1000000 AS accuracy,
           CASE WHEN CAST(n AS HUGEINT) * n
                     - (CAST(tp + fp AS HUGEINT) * (tp + fn)
                        + CAST(fn + tn AS HUGEINT) * (fp + tn)) <> 0
             THEN floor(
               CAST(2 * (CAST(tp AS HUGEINT) * tn
                         - CAST(fp AS HUGEINT) * fn) AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n
                      - (CAST(tp + fp AS HUGEINT) * (tp + fn)
                         + CAST(fn + tn AS HUGEINT) * (fp + tn))
                      AS DOUBLE) * 1000000 + 0.5) / 1000000
           END AS kappa,
           CASE WHEN tp + fp <> 0 AND tp + fn <> 0
                 AND tn + fp <> 0 AND tn + fn <> 0
             THEN floor(
               CAST(CAST(tp AS HUGEINT) * tn
                    - CAST(fp AS HUGEINT) * fn AS DOUBLE)
               / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                           AS DOUBLE)
                      * CAST(CAST(tn + fp AS HUGEINT) * (tn + fn)
                             AS DOUBLE)) * 1000000 + 0.5) / 1000000
           END AS mcc
    FROM cells
    ORDER BY l_returnflag
    """,
)
def ml_cohen_kappa_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA and the MATTHEWS CORRELATION COEFFICIENT for the
    planted classifier (the mcnemar fixture's pred_a vs its generative
    label) per returnflag group — the two standard chance-corrected
    agreement summaries accuracy cannot replace on imbalanced labels:
    kappa = (p_o − p_e)/(1 − p_e) rewritten over raw counts as
    2(TP·TN − FP·FN) / (n² − (TP+FP)(TP+FN) − (FN+TN)(FP+TN)), and
    MCC = (TP·TN − FP·FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — the
    phi coefficient of the 2×2 table. Both share the same numerator
    sign, so they must agree on better/worse-than-chance (pinned).

    Exactness: the confusion matrix is exact integer counts from one
    conditional-aggregate pass; every product runs in wide integers
    (n² and the four marginal products exceed int64 at the probe
    tree's scale), and kappa/MCC are single pinned double expressions
    over them, r6-floored. Degenerate marginals (an all-positive or
    all-negative prediction or label column) NULL out via the same
    CASE both engines. The invariant test replays both statistics in
    exact Fractions from the collected cells and pins the
    kappa <= |MCC| inequality (kappa is MCC times a symmetry factor
    <= 1 for 2x2 tables).

    Scale shape: one map-side-combinable groupBy to 3 group rows;
    everything downstream is per-row closed form.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS grp",
        "CASE WHEN ((l_orderkey % 1048576) * 2654435761"
        " + l_linenumber * 40503) % 1000"
        " < 150 + 14 * CAST(l_quantity AS BIGINT) THEN 1 ELSE 0 END AS y",
        "CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS pred_a",
    )
    cells = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN pred_a = 1 AND y = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.expr("CASE WHEN pred_a = 1 AND y = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.expr("CASE WHEN pred_a = 0 AND y = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.expr("CASE WHEN pred_a = 0 AND y = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tn"),
    )
    wide = "DECIMAL(38,0)"
    return cells.selectExpr(
        "grp AS l_returnflag",
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        "floor(CAST(tp + tn AS DOUBLE) / n * 1000000 + 0.5)"
        " / 1000000 AS accuracy",
        f"CASE WHEN CAST(n AS {wide}) * n"
        f" - (CAST(tp + fp AS {wide}) * (tp + fn)"
        f" + CAST(fn + tn AS {wide}) * (fp + tn)) <> 0"
        " THEN floor("
        f"CAST(2 * (CAST(tp AS {wide}) * tn"
        f" - CAST(fp AS {wide}) * fn) AS DOUBLE)"
        f" / CAST(CAST(n AS {wide}) * n"
        f" - (CAST(tp + fp AS {wide}) * (tp + fn)"
        f" + CAST(fn + tn AS {wide}) * (fp + tn))"
        " AS DOUBLE) * 1000000 + 0.5) / 1000000"
        " END AS kappa",
        "CASE WHEN tp + fp <> 0 AND tp + fn <> 0"
        " AND tn + fp <> 0 AND tn + fn <> 0"
        " THEN floor("
        f"CAST(CAST(tp AS {wide}) * tn"
        f" - CAST(fp AS {wide}) * fn AS DOUBLE)"
        f" / sqrt(CAST(CAST(tp + fp AS {wide}) * (tp + fn) AS DOUBLE)"
        f" * CAST(CAST(tn + fp AS {wide}) * (tn + fn) AS DOUBLE))"
        " * 1000000 + 0.5) / 1000000"
        " END AS mcc",
    ).orderBy("l_returnflag")


# --- r13 growth: permutation feature importance ---------------------------
_PERM_ROWS_SQL = """
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT) AS y,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                 || CAST(l_linenumber AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM lineitem
"""


@register(
    "ml_permutation_importance_ols",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_PERM_ROWS_SQL}),
    shifted AS (
      SELECT x1, x2, y,
             coalesce(lag(x1) OVER w,
                      last_value(x1) OVER wf) AS xp1,
             coalesce(lag(x2) OVER w,
                      last_value(x2) OVER wf) AS xp2
      FROM rows_in
      WINDOW w AS (PARTITION BY h % 4096 ORDER BY h, x1, x2, y),
             wf AS (PARTITION BY h % 4096 ORDER BY h, x1, x2, y
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(sum(CAST(xp1 AS HUGEINT) * y) AS HUGEINT) AS s1py,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
             CAST(sum(CAST(xp2 AS HUGEINT) * y) AS HUGEINT) AS s2py
      FROM shifted
    ),
    g AS (
      SELECT n,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS gyy,
             CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * s1 AS g11,
             CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * sy AS g1y,
             CAST(n AS HUGEINT) * s1py - CAST(s1 AS HUGEINT) * sy
               AS g1py,
             CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * s2 AS g22,
             CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * sy AS g2y,
             CAST(n AS HUGEINT) * s2py - CAST(s2 AS HUGEINT) * sy
               AS g2py
      FROM m
    )
    SELECT f.feature, g.n AS n_rows,
           floor(CASE f.feature WHEN 'quantity'
             THEN CAST(g1y AS DOUBLE) * CAST(g1y AS DOUBLE)
                  / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))
             ELSE CAST(g2y AS DOUBLE) * CAST(g2y AS DOUBLE)
                  / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END
             * 1000000 + 0.5) / 1000000 AS r2_orig,
           floor(CASE f.feature WHEN 'quantity'
             THEN CAST(g1py AS DOUBLE) * CAST(g1py AS DOUBLE)
                  / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))
             ELSE CAST(g2py AS DOUBLE) * CAST(g2py AS DOUBLE)
                  / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END
             * 1000000 + 0.5) / 1000000 AS r2_perm,
           floor((CASE f.feature WHEN 'quantity'
             THEN CAST(g1y AS DOUBLE) * CAST(g1y AS DOUBLE)
                  / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))
             ELSE CAST(g2y AS DOUBLE) * CAST(g2y AS DOUBLE)
                  / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END
             - CASE f.feature WHEN 'quantity'
             THEN CAST(g1py AS DOUBLE) * CAST(g1py AS DOUBLE)
                  / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))
             ELSE CAST(g2py AS DOUBLE) * CAST(g2py AS DOUBLE)
                  / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END)
             * 1000000 + 0.5) / 1000000 AS importance
    FROM g CROSS JOIN (SELECT unnest(['quantity', 'discount'])
                       AS feature) f
    ORDER BY f.feature
    """,
)
def ml_permutation_importance_ols(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERMUTATION FEATURE IMPORTANCE (Breiman 2001) for the two-
    feature OLS setting, fully deterministic: each feature's
    single-variable R² is compared against the R² after the feature
    column is PERMUTED — re-paired with other rows' targets — by a
    hash-keyed cyclic shift (rows bucket by md5(key) % 4096; within a
    bucket, ordered by the hash, every row takes its predecessor's
    feature value and the first row wraps to the last's). The shift
    is a true permutation (marginals exactly preserved — pinned in
    the invariant test via Σx and Σx²), is independent of the
    features (hash of the row KEY), and needs NO global sort: 4096
    bounded window partitions instead of one data-sized one — the
    100 TB-safe way to permute.

    Importance = R²_orig − R²_perm; the label generator multiplies by
    (1 − discount) while quantity only correlates incidentally, so
    discount must dominate (pinned). R²_perm itself collapses toward
    0 — what "permutation breaks the signal" means, measured.

    Exactness: all moments are exact wide integers; each R² is one
    pinned double expression (r6-floored); the md5-order tie-break is
    total (hash, then the feature tuple).
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x1",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
        " AS BIGINT) AS y",
        "cast(conv(substr(md5(concat(CAST(l_orderkey AS STRING), '-',"
        " CAST(l_linenumber AS STRING))), 1, 15), 16, 10) as bigint)"
        " AS h",
    )
    w = Window.partitionBy(F.expr("h % 4096")).orderBy("h", "x1", "x2", "y")
    wf = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shifted = li.select(
        "x1",
        "x2",
        "y",
        F.coalesce(
            F.lag("x1").over(w), F.last("x1").over(wf)
        ).alias("xp1"),
        F.coalesce(
            F.lag("x2").over(w), F.last("x2").over(wf)
        ).alias("xp2"),
    )
    wide = "DECIMAL(38,0)"
    # r16 (the ml_learning_curve_ols lesson): per-row products run in
    # BIGINT — y is domain-bounded price cents (≤ ~1.1e7 at any SF, the
    # scale probe shifts KEYS, never prices), so y*y ≤ ~1.2e14 and every
    # cross product is far under 2^63 per row — and only the ACCUMULATORS
    # stay DECIMAL(38,0) (sum of y² crosses int64 past ~sf1).
    m = shifted.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(y * y AS {wide})")).alias("syy"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum(F.expr(f"CAST(x1 * x1 AS {wide})")).alias("s11"),
        F.sum(F.expr(f"CAST(x1 * y AS {wide})")).alias("s1y"),
        F.sum(F.expr(f"CAST(xp1 * y AS {wide})")).alias("s1py"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.expr(f"CAST(x2 * x2 AS {wide})")).alias("s22"),
        F.sum(F.expr(f"CAST(x2 * y AS {wide})")).alias("s2y"),
        F.sum(F.expr(f"CAST(xp2 * y AS {wide})")).alias("s2py"),
    )
    g = m.selectExpr(
        "n",
        f"CAST(n AS {wide}) * syy - CAST(sy AS {wide}) * sy AS gyy",
        f"CAST(n AS {wide}) * s11 - CAST(s1 AS {wide}) * s1 AS g11",
        f"CAST(n AS {wide}) * s1y - CAST(s1 AS {wide}) * sy AS g1y",
        f"CAST(n AS {wide}) * s1py - CAST(s1 AS {wide}) * sy AS g1py",
        f"CAST(n AS {wide}) * s22 - CAST(s2 AS {wide}) * s2 AS g22",
        f"CAST(n AS {wide}) * s2y - CAST(s2 AS {wide}) * sy AS g2y",
        f"CAST(n AS {wide}) * s2py - CAST(s2 AS {wide}) * sy AS g2py",
    )
    feats = spark.range(0, 2).selectExpr(
        "CASE id WHEN 0 THEN 'discount' ELSE 'quantity' END AS feature"
    )
    r2o = (
        "CASE feature WHEN 'quantity'"
        " THEN CAST(g1y AS DOUBLE) * CAST(g1y AS DOUBLE)"
        " / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))"
        " ELSE CAST(g2y AS DOUBLE) * CAST(g2y AS DOUBLE)"
        " / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END"
    )
    r2p = (
        "CASE feature WHEN 'quantity'"
        " THEN CAST(g1py AS DOUBLE) * CAST(g1py AS DOUBLE)"
        " / (CAST(g11 AS DOUBLE) * CAST(gyy AS DOUBLE))"
        " ELSE CAST(g2py AS DOUBLE) * CAST(g2py AS DOUBLE)"
        " / (CAST(g22 AS DOUBLE) * CAST(gyy AS DOUBLE)) END"
    )
    return (
        g.crossJoin(F.broadcast(feats))
        .selectExpr(
            "feature",
            "n AS n_rows",
            f"floor({r2o} * 1000000 + 0.5) / 1000000 AS r2_orig",
            f"floor({r2p} * 1000000 + 0.5) / 1000000 AS r2_perm",
            f"floor(({r2o} - {r2p}) * 1000000 + 0.5) / 1000000"
            " AS importance",
        )
        .orderBy("feature")
    )


# --- r13 growth: leakage-free k-fold target encoding -----------------------
_TE_FOLDS = 5


@register(
    "ml_target_encoding_kfold",
    category="similarity",
    oracle=f"""
    WITH rows_in AS (
      SELECT l_returnflag || '/' || l_linestatus AS cat,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                   || CAST(l_linenumber AS VARCHAR)),
                                  1, 15))::BIGINT % {_TE_FOLDS}
                  AS BIGINT) AS fold,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                  AS BIGINT) AS y
      FROM lineitem
    ),
    per_fold AS (
      SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_f,
             CAST(sum(y) AS BIGINT) AS s_f
      FROM rows_in GROUP BY 1, 2
    ),
    per_cat AS (
      SELECT cat, CAST(sum(n_f) AS BIGINT) AS n_c,
             CAST(sum(s_f) AS BIGINT) AS s_c
      FROM per_fold GROUP BY cat
    )
    SELECT f.cat, f.fold, f.n_f AS n_rows,
           CASE WHEN c.n_c - f.n_f > 0 THEN
             CAST(floor(CAST(c.s_c - f.s_f AS DOUBLE) / (c.n_c - f.n_f)
                        + 0.5) AS BIGINT) END AS oof_mean_cents,
           CAST(floor(CAST(c.s_c AS DOUBLE) / c.n_c + 0.5) AS BIGINT)
             AS full_mean_cents,
           CASE WHEN c.n_c - f.n_f > 0 THEN
             floor(abs(CAST(c.s_c - f.s_f AS DOUBLE) / (c.n_c - f.n_f)
                       - CAST(c.s_c AS DOUBLE) / c.n_c) * 100 + 0.5)
               / 100 END AS leakage_gap_cents
    FROM per_fold f JOIN per_cat c ON c.cat = f.cat
    ORDER BY f.cat, f.fold
    """,
)
def ml_target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE K-FOLD TARGET ENCODING — the feature-engineering
    op every tabular training pipeline needs and most get wrong: the
    encoding for a row in fold f is the category's target mean
    computed EXCLUDING fold f (out-of-fold), e(cat, f) =
    (S_cat − S_cat,f) / (N_cat − N_cat,f), so no row's own target
    leaks into its own feature. Folds are the md5-of-key hash the
    permutation-importance op uses — deterministic, reproducible
    across runs/engines/cluster sizes, and stable under incremental
    ingestion (the properties a 100 TB feature store requires of fold
    assignment). `leakage_gap_cents` quantifies per (cat, fold) how
    far the OOF mean sits from the naive full mean — the bias a
    leaky encoder would have injected, reported as data.

    Exactness: fold sums and counts are exact integers; the
    complement arithmetic is exact integer subtraction; each mean is
    one pinned double division (cents-floored). The invariant test
    recomputes every OOF mean from raw rows and pins the complement
    identity N_c = Σ_f N_f.

    Scale shape: one map-side-combinable groupBy to (cat × fold) —
    domain-sized — then a broadcast-scale join of the per-cat totals
    back onto it. The row-level encoded column is a broadcast-join
    away (intentionally not materialized here: the certified artifact
    is the encoding TABLE, the thing a feature store actually ships).
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "concat(l_returnflag, '/', l_linestatus) AS cat",
        "cast(conv(substr(md5(concat(CAST(l_orderkey AS STRING), '-',"
        " CAST(l_linenumber AS STRING))), 1, 15), 16, 10) as bigint)"
        f" % {_TE_FOLDS} AS fold",
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
        " AS BIGINT) AS y",
    )
    per_fold = li.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_f"),
        F.sum("y").cast("bigint").alias("s_f"),
    )
    per_cat = per_fold.groupBy("cat").agg(
        F.sum("n_f").cast("bigint").alias("n_c"),
        F.sum("s_f").cast("bigint").alias("s_c"),
    )
    out = (
        per_fold.join(F.broadcast(per_cat), "cat")
        .selectExpr(
            "cat",
            "fold",
            "n_f AS n_rows",
            "CASE WHEN n_c - n_f > 0 THEN"
            " floor(CAST(s_c - s_f AS DOUBLE) / (n_c - n_f) + 0.5)"
            " END AS oof_mean_cents",
            "floor(CAST(s_c AS DOUBLE) / n_c + 0.5) AS full_mean_cents",
            "CASE WHEN n_c - n_f > 0 THEN"
            " floor(abs(CAST(s_c - s_f AS DOUBLE) / (n_c - n_f)"
            " - CAST(s_c AS DOUBLE) / n_c) * 100 + 0.5) / 100"
            " END AS leakage_gap_cents",
        )
        .orderBy("cat", "fold")
    )
    return out


# --- r13 growth: adversarial-validation AUC --------------------------------
@register(
    "ml_adversarial_validation_auc",
    category="similarity",
    oracle=f"""
    WITH rows_in AS ({_MCNEMAR_ROWS_SQL.replace("l_returnflag AS grp",
                      "l_returnflag AS grp,"
                      " ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)"
                      " || '-' || CAST(l_linenumber AS VARCHAR)), 1,"
                      " 15))::BIGINT % 2 AS hsplit,"
                      " CAST(l_quantity AS BIGINT) AS qty,"
                      " CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
                      " AS disc")}
    ),
    long AS (
      SELECT 'quantity' AS feature, 'hash_split' AS split_kind,
             qty AS v, hsplit AS g FROM rows_in
      UNION ALL
      SELECT 'discount', 'hash_split', disc, hsplit FROM rows_in
      UNION ALL
      SELECT 'quantity', 'label_split', qty, y FROM rows_in
      UNION ALL
      SELECT 'discount', 'label_split', disc, y FROM rows_in
    ),
    vals AS (
      SELECT feature, split_kind, v,
             CAST(sum(g) AS BIGINT) AS n1,
             CAST(sum(1 - g) AS BIGINT) AS n0
      FROM long GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT feature, split_kind, v, n1, n0,
             CAST(coalesce(sum(n0) OVER (
               PARTITION BY feature, split_kind ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum0_less
      FROM vals
    )
    SELECT feature, split_kind,
           CAST(sum(n1) AS BIGINT) AS n_pos,
           CAST(sum(n0) AS BIGINT) AS n_neg,
           floor(CAST(sum(CAST(n1 AS HUGEINT)
                          * (2 * cum0_less + n0)) AS DOUBLE)
                 / (2e0 * CAST(sum(n1) AS DOUBLE) * sum(n0))
                 * 1000000 + 0.5) / 1000000 AS auc,
           abs(CAST(sum(CAST(n1 AS HUGEINT) * (2 * cum0_less + n0))
                    AS DOUBLE)
               / (2e0 * CAST(sum(n1) AS DOUBLE) * sum(n0)) - 0.5e0)
             > 0.02e0 AS distinguishable
    FROM cum
    GROUP BY feature, split_kind
    ORDER BY feature, split_kind
    """,
)
def ml_adversarial_validation_auc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADVERSARIAL VALIDATION via exact Mann-Whitney AUC — the
    train/test-shift diagnostic: if ANY feature separates two data
    splits with AUC far from 0.5, the splits are distributionally
    different and models will leak split identity. Two splits are
    tested per feature: the md5-hash split (the NULL control — a
    correct hash split must be indistinguishable, AUC ≈ 0.5) and the
    planted LABEL split (the positive control — quantity generates
    the label, so its AUC must be far from 0.5, while discount's
    stays near it). AUC is computed exactly as the normalized
    rank-sum with midrank tie handling, in pure integer arithmetic:
    per distinct value, 2U accumulates n1·(2·cum0_below + n0), and
    AUC = 2U / (2·N1·N0) is the one pinned double division.

    Scale shape: ONE fact-sized groupBy to the joint
    (qty × disc × hsplit × y) cell domain (~50 × 11 × 2 × 2 cells —
    map-side combined, so the md5 split hash is computed exactly once
    per row and the shuffle carries cells, not rows), a 4-way stack()
    of that tiny relation into the (feature × split) legs, a bounded
    window over value order, a 4-row aggregate. No persist, no
    repeated cache passes — the r15 rewrite of the previous
    persist + 4-leg-union shape (equivalence: Σ_rows g =
    Σ_cells w·g for every (feature, split, v) cell). No sort of the
    fact table — the rank arithmetic runs on the VALUE DOMAIN
    (quantity has ~50 distinct values, discount ~11), which is what
    makes exact AUC computable at 100 TB where a row-level rank would
    shuffle everything.
    """
    li = load(spark, sf_dir, "lineitem").selectExpr(
        "CAST(CASE WHEN ((l_orderkey % 1048576) * 2654435761"
        " + l_linenumber * 40503) % 1000"
        " < 150 + 14 * CAST(l_quantity AS BIGINT) THEN 1 ELSE 0 END"
        " AS BIGINT) AS y",
        "cast(conv(substr(md5(concat(CAST(l_orderkey AS STRING), '-',"
        " CAST(l_linenumber AS STRING))), 1, 15), 16, 10) as bigint)"
        " % 2 AS hsplit",
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc",
    )
    cells = li.groupBy("qty", "disc", "hsplit", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    long = cells.selectExpr(
        "stack(4,"
        " 'quantity', 'hash_split', qty, hsplit,"
        " 'discount', 'hash_split', disc, hsplit,"
        " 'quantity', 'label_split', qty, y,"
        " 'discount', 'label_split', disc, y"
        ") AS (feature, split_kind, v, g)",
        "w",
    )
    vals = long.groupBy("feature", "split_kind", "v").agg(
        F.sum(F.expr("g * w")).cast("bigint").alias("n1"),
        F.sum(F.expr("(1 - g) * w")).cast("bigint").alias("n0"),
    )
    w = (
        Window.partitionBy("feature", "split_kind")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vals.select(
        "feature",
        "split_kind",
        "n1",
        "n0",
        F.coalesce(F.sum("n0").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum0_less"),
    )
    wide = "DECIMAL(38,0)"
    out = (
        cum.groupBy("feature", "split_kind")
        .agg(
            F.sum("n1").cast("bigint").alias("n_pos"),
            F.sum("n0").cast("bigint").alias("n_neg"),
            F.sum(
                F.expr(f"CAST(n1 AS {wide}) * (2 * cum0_less + n0)")
            ).alias("u2"),
        )
        .selectExpr(
            "feature",
            "split_kind",
            "n_pos",
            "n_neg",
            "floor(CAST(u2 AS DOUBLE)"
            " / (2D * CAST(n_pos AS DOUBLE) * n_neg)"
            " * 1000000 + 0.5) / 1000000 AS auc",
            "abs(CAST(u2 AS DOUBLE)"
            " / (2D * CAST(n_pos AS DOUBLE) * n_neg) - 0.5D)"
            " > 0.02D AS distinguishable",
        )
        .orderBy("feature", "split_kind")
    )
    return out
