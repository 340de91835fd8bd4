"""Distributed quality-classifier training over hashed n-gram features.

The CCNet/fastText-shaped filter every LLM curation stack trains: a
LINEAR text-quality classifier over hashed word n-gram counts, learned
with batch-gradient iterations phrased as relational passes — the same
iterate-on-a-relation discipline as :mod:`bpe` (the corpus text is
touched exactly ONCE; every training iteration runs on the compact
(doc, bucket, count) feature relation and a K-row broadcast weight
vector).

Model: batch perceptron with unit learning rate — gradient descent on
the perceptron loss. Every quantity is an INTEGER (feature counts,
labels in {+1,-1}, weights, scores, gradients), so the trajectory is
bit-identical across engines with zero float drift:

  1. features: grams = word unigrams + bigrams, hashed to K buckets
     via the repo-wide md5-derived bucket hash; ONE hash-agg produces
     (doc_id, y, bucket, count) — the only pass over the 100 TB text;
  2. labels: the deterministic stopword-density + type-token-ratio
     heuristic, integer cross-multiplied (no ratio floats) — the
     "wikipedia-vs-crawl" proxy CCNet trains against;
  3. each iteration: score = Σ count·w (feature relation ⋈ broadcast
     weight vector, one hash-agg per doc); misclassified = y·score≤0;
     gradient g_b = Σ_misclassified y·count; w ← w + g. The weight
     vector stays a K-row relation end to end — never a driver
     collect.

Apply is a ZERO-SHUFFLE map-side scorer: the learned vector folds to a
one-row bucket→weight map (broadcast scalar attach), and each document
scores itself with one ``aggregate`` fold over its gram array.

Oracle: the DuckDB twin unrolls the same N_ITERS iterations as CTE
stages over the same feature relation — integer-exact at every stage.

At 100 TB: the text pass is embarrassingly parallel; the feature
relation is ≤ docs×K rows; iteration joins broadcast the K-row vector;
the misclassified-set semi-join co-partitions on doc_id with the score
agg. Nothing in the loop rescans text.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.operators.textops import STOPWORDS
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table

#: hashed feature buckets (the fastText "hashing trick" dimension)
K_BUCKETS = 64
#: batch-gradient iterations (unrolled in the oracle)
N_ITERS = 3

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

#: Spark bucket hash over a gram string column ``g`` (md5-derived —
#: the repo-wide cross-engine hash; value is 60-bit positive so plain
#: ``%`` is already non-negative)
_BUCKET = (
    "cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint)"
    f" % {K_BUCKETS}"
)
#: DuckDB twin
_BUCKET_SQL = f"(('0x' || substr(md5(g), 1, 15))::BIGINT) % {K_BUCKETS}"

#: grams = unigrams ++ bigrams over the non-empty token array ``toks``
_GRAMS = (
    "concat(toks, CASE WHEN size(toks) >= 2 THEN "
    "transform(sequence(0, size(toks)-2),"
    " i -> concat(toks[i], ' ', toks[i+1])) "
    "ELSE array() END)"
)
_GRAMS_SQL = (
    "list_concat(toks, CASE WHEN len(toks) >= 2 THEN "
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) "
    "ELSE [] END)"
)

#: the integer label rule: good ⇔ stopword density ≥ 1/12 AND
#: type-token ratio ≥ 1/2 — cross-multiplied so no float ever exists
_LABEL = (
    f"CASE WHEN size(filter(toks, w -> w IN ({_STOP_IN}))) * 12"
    " >= size(toks)"
    " AND size(array_distinct(toks)) * 2 >= size(toks)"
    " THEN 1 ELSE -1 END"
)
_LABEL_SQL = (
    f"CASE WHEN len(list_filter(toks, w -> w IN ({_STOP_IN}))) * 12"
    " >= len(toks)"
    " AND len(list_distinct(toks)) * 2 >= len(toks)"
    " THEN 1 ELSE -1 END"
)


def _labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, y, grams) — the single text pass, shared with
    :mod:`dsir`: non-empty tokens, the integer label and the
    unigram+bigram array. Lazily checkpointed because every consumer
    explodes its computed gram array (GenerateExec re-evaluates its
    child — the repo-wide trap)."""
    docs = compute_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.expr("filter(split(text, ' '), w -> w != '')").alias("toks"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr(_LABEL).cast("long").alias("y"),
            F.expr(_GRAMS).alias("grams"),
        )
        .localCheckpoint(eager=False)
    )


def _lab_feat(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(:func:`_labeled`, hashed feature counts): ``feat`` is the
    compact (doc_id, y, b, x) relation every iteration reuses, lazily
    checkpointed because six plan references would otherwise recompute
    the corpus pass."""
    lab = _labeled(spark, sf_dir)
    feat = (
        lab.select("doc_id", "y", F.explode("grams").alias("g"))
        .select("doc_id", "y", F.expr(_BUCKET).alias("b"))
        .groupBy("doc_id", "y", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    return lab, feat


def _lab_ctes(mat: str = "") -> str:
    """DuckDB mirror of :func:`_labeled`: CTEs ``base`` and ``lab``.
    ``mat="MATERIALIZED "`` pins them in a statement that reads them
    many times."""
    return f"""base AS {mat}(
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    ),
    lab AS {mat}(
        SELECT doc_id, lang,
               CAST({_LABEL_SQL} AS BIGINT) AS y,
               {_GRAMS_SQL} AS grams
        FROM base
    )"""


def _feat_ctes(mat: str = "") -> str:
    """DuckDB mirror of :func:`_lab_feat`: :func:`_lab_ctes` plus the
    feature relation ``feat``."""
    return f"""{_lab_ctes(mat)},
    feat AS {mat}(
        SELECT doc_id, y, {_BUCKET_SQL} AS b,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM (SELECT doc_id, y, unnest(grams) AS g FROM lab)
        GROUP BY 1, 2, 3
    )"""


#: deterministic cross-engine folds: a doc's fold is its md5-derived id
#: hash mod N_FOLDS; fold 0 is the holdout (TEST) of the single-split
#: queries
N_FOLDS = 5
_FOLD = (
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)"
    f" as bigint) % {N_FOLDS}"
)
_FOLD_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
    f" % {N_FOLDS}"
)
_IS_TEST = f"{_FOLD} = 0"
_IS_TEST_SQL = f"{_FOLD_SQL} = 0"


def clf_chain(
    spark: SparkSession, sf_dir: str, train_only: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the N_ITERS training chain; return (lab, feat, weights).

    weights is the K-row (b, w) relation after the last iteration —
    eagerly checkpointed per step (K rows) so each iteration's plan
    stays flat, exactly like bpe.py's one-row broadcast argmax.

    ``train_only=True`` restricts every gradient pass to the
    deterministic md5 train fold (the eval query's holdout protocol);
    the feature build itself is unchanged — the split is a filter on
    the compact feature relation, never a second text pass.
    """
    lab, feat = _lab_feat(spark, sf_dir)
    if train_only:
        feat = feat.filter(F.expr(f"NOT ({_IS_TEST})"))
    *_, w = _epochs(spark, feat)
    return lab, feat, w


def _epochs(
    spark: SparkSession, feat: DataFrame, n_epochs: int = N_ITERS
) -> Iterator[DataFrame]:
    """The batch-perceptron loop over a (doc_id, y, b, x) feature
    relation: yields the K-row (b, w) weight vector after each of
    ``n_epochs`` epochs."""
    w = spark.range(K_BUCKETS).select(
        F.col("id").cast("long").alias("b"),
        F.lit(0).cast("long").alias("w"),
    )
    for _ in range(n_epochs):
        scores = (
            feat.join(F.broadcast(w), "b")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("x") * F.col("w")).cast("long").alias("score"))
        )
        mis = scores.filter(F.col("y") * F.col("score") <= 0).select("doc_id")
        grad = (
            feat.join(mis, "doc_id", "left_semi")
            .groupBy("b")
            .agg(F.sum(F.col("y") * F.col("x")).cast("long").alias("g"))
        )
        w = (
            w.join(grad, "b", "left")
            .select(
                "b",
                (F.col("w") + F.coalesce(F.col("g"), F.lit(0)))
                .cast("long")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        yield w


def _train_ctes(feat: str, n_epochs: int, sfx: str = "") -> str:
    """DuckDB mirror of :func:`_epochs` over the feature CTE ``feat``:
    ``w{sfx}0`` (zeros), then per epoch k the scores ``s{sfx}{k}``,
    misclassified docs ``m{sfx}{k}``, gradient ``g{sfx}{k}`` and
    weights ``w{sfx}{k}``."""
    stages = [
        f"""w{sfx}0 AS (
        SELECT CAST(b AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
        FROM range(0, {K_BUCKETS}) t(b)
    )"""
    ]
    for k in range(1, n_epochs + 1):
        p, g, w = f"w{sfx}{k - 1}", f"g{sfx}{k}", f"w{sfx}{k}"
        stages.append(f"""s{sfx}{k} AS (
        SELECT f.doc_id, f.y, CAST(SUM(f.x * w.w) AS BIGINT) AS score
        FROM {feat} f JOIN {p} w USING (b)
        GROUP BY 1, 2
    ),
    m{sfx}{k} AS (SELECT doc_id FROM s{sfx}{k} WHERE y * score <= 0),
    {g} AS (
        SELECT b, CAST(SUM(y * x) AS BIGINT) AS g
        FROM {feat}
        WHERE doc_id IN (SELECT doc_id FROM m{sfx}{k})
        GROUP BY 1
    ),
    {w} AS (
        SELECT {p}.b, CAST({p}.w + COALESCE({g}.g, 0) AS BIGINT) AS w
        FROM {p} LEFT JOIN {g} USING (b)
    )""")
    return ",\n    ".join(stages)


def _chain_ctes(train_where: str = "TRUE", n_iters: int = N_ITERS) -> str:
    """The shared unrolled-training CTE block (through w{n_iters}).

    ``train_where`` filters the feature relation the gradient passes
    see (the eval query's holdout split); the default keeps the full
    corpus. ``n_iters`` unrolls more epochs (model selection)."""
    return f"""WITH {_feat_ctes()},
    tfeat AS (SELECT * FROM feat WHERE {train_where}),
    {_train_ctes("tfeat", n_iters)}"""


def _scored(lab: DataFrame, w: DataFrame, *cols: str) -> DataFrame:
    """``cols`` of ``lab`` plus each doc's integer ``score`` under the
    K-row weights ``w``. Map-side and zero-shuffle: ``w`` folds to a
    one-row bucket→weight map (broadcast scalar attach, the repo's
    crossJoin(broadcast(<tiny aggregate>)) pattern) and each document
    scores itself with one ``aggregate`` fold over its gram array —
    per-instance weight sum ≡ Σ_b w_b·count_b."""
    wmap = w.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("w")))
        ).alias("wmap")
    )
    return lab.crossJoin(F.broadcast(wmap)).select(
        *cols,
        F.expr(
            f"aggregate(grams, 0L, (acc, g) -> acc + coalesce(wmap[{_BUCKET}], 0L))"
        ).alias("score"),
    )


def _score_ctes(w: str, src: str = "lab", sfx: str = "") -> str:
    """DuckDB mirror of :func:`_scored`: the gram instances
    ``inst{sfx}`` of ``src`` (``lab``, optionally with a WHERE) and
    their per-doc weight sums ``sc{sfx}`` under the weight CTE ``w``.
    A doc with no gram in ``w`` has no ``sc`` row; readers COALESCE
    its score to 0."""
    return f"""inst{sfx} AS (
        SELECT doc_id, {_BUCKET_SQL} AS b
        FROM (SELECT doc_id, unnest(grams) AS g FROM {src})
    ),
    sc{sfx} AS (
        SELECT i.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
        FROM inst{sfx} i JOIN {w} w USING (b)
        GROUP BY 1
    )"""


def _confusion_aggs() -> list[Column]:
    """Census of a scored (y, score) holdout: n_test, the confusion
    matrix of label (y = 1) vs prediction (score > 0), and integer
    accuracy ppm."""
    good = F.col("y") == 1
    pred = F.col("score") > 0
    return [
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum((good & pred).cast("long")).cast("long").alias("tp"),
        F.sum(((~good) & pred).cast("long")).cast("long").alias("fp"),
        F.sum(((~good) & (~pred)).cast("long")).cast("long").alias("tn"),
        F.sum((good & (~pred)).cast("long")).cast("long").alias("fn"),
        F.expr(
            "CAST(SUM(CASE WHEN (y = 1) = (score > 0) THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("accuracy_ppm"),
    ]


#: DuckDB mirror of :func:`_confusion_aggs`
_CONFUSION_SQL = """CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN y = -1 AND score > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN y = -1 AND score <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN y = 1 AND score <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN (y = 1) = (score > 0) THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm"""


def _train_oracle_sql() -> str:
    return (
        _chain_ctes()
        + f"\n    SELECT b AS bucket, w AS weight FROM w{N_ITERS}"
    )


@query("q_quality_clf_train", sql=_train_oracle_sql())
def q_quality_clf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned weight vector after N_ITERS batch-perceptron
    iterations over hashed unigram+bigram counts — K rows, every value
    a BIGINT reached by integer-only arithmetic, so any divergence in
    any iteration's scores/misclassified-set/gradient shows up here."""
    _lab, _feat, w = clf_chain(spark, sf_dir)
    return w.select(F.col("b").alias("bucket"), F.col("w").alias("weight"))


def _apply_oracle_sql() -> str:
    return (
        _chain_ctes()
        + f""",
    {_score_ctes(f"w{N_ITERS}")},
    fin AS (
        SELECT l.lang, l.y, COALESCE(sc.score, 0) AS score
        FROM lab l LEFT JOIN sc USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_label_good,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_good,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM fin GROUP BY 1"""
    )


@query("q_quality_clf_apply", sql=_apply_oracle_sql())
def q_quality_clf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus with the learned vector and census per lang:
    docs, heuristic-good, classifier-good, summed integer scores.

    The scorer is :func:`_scored`'s map-side, zero-shuffle fold; only
    the final per-lang census shuffles (5 groups)."""
    lab, _feat, w = clf_chain(spark, sf_dir)
    scored = _scored(lab, w, "lang", "y")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_label_good"),
        F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pred_good"),
        F.sum("score").cast("long").alias("sum_score"),
    )


def _eval_oracle_sql() -> str:
    return (
        _chain_ctes(train_where=f"NOT ({_IS_TEST_SQL})")
        + f""",
    {_score_ctes(f"w{N_ITERS}", f"lab WHERE {_IS_TEST_SQL}")},
    fin AS (
        SELECT l.lang, l.y, COALESCE(sc.score, 0) AS score
        FROM lab l LEFT JOIN sc USING (doc_id)
        WHERE {_IS_TEST_SQL}
    )
    SELECT lang, {_CONFUSION_SQL}
    FROM fin GROUP BY 1"""
    )


@query("q_quality_clf_eval", sql=_eval_oracle_sql())
def q_quality_clf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout evaluation of the classifier — the ML-pipeline step the
    train/apply pair doesn't cover: train on the md5-derived 4/5 train
    fold ONLY, score the held-out 1/5, and census the per-lang
    confusion matrix with integer accuracy ppm.

    The split is a filter on the compact feature relation (one
    deterministic hash of doc_id, identical in both engines), so the
    holdout protocol adds zero corpus passes; scoring reuses the
    zero-shuffle broadcast-map fold."""
    lab, _feat, w = clf_chain(spark, sf_dir, train_only=True)
    return (
        _scored(lab.filter(F.expr(_IS_TEST)), w, "lang", "y")
        .groupBy("lang")
        .agg(*_confusion_aggs())
    )


# ---------------------------------------------------------------------------
# Model selection: train E epochs on the train fold, score EVERY
# epoch's weight vector on the holdout, select the best by (accuracy
# desc, epoch asc) — the early-stopping/model-selection step a real
# training pipeline runs after q_quality_clf_train. The selection
# argmax stays IN-PLAN (broadcast one-row max, the bpe.py discipline);
# all arithmetic is integer counts and ppm divisions.
# ---------------------------------------------------------------------------
N_EPOCHS = 4


def clf_epoch_weights(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """(lab, [w_1 .. w_N_EPOCHS]) trained on the md5 train fold."""
    lab, feat = _lab_feat(spark, sf_dir)
    tfeat = feat.filter(F.expr(f"NOT ({_IS_TEST})"))
    return lab, list(_epochs(spark, tfeat, N_EPOCHS))


def _model_select_oracle_sql() -> str:
    ctes = _chain_ctes(
        train_where=f"NOT ({_IS_TEST_SQL})", n_iters=N_EPOCHS
    )
    evals = []
    for e in range(1, N_EPOCHS + 1):
        evals.append(f"""{_score_ctes(f"w{e}", f"lab WHERE {_IS_TEST_SQL}", str(e))},
    acc{e} AS (
        SELECT CAST({e} AS BIGINT) AS epoch,
               CAST(SUM(CASE WHEN (l.y = 1) = (COALESCE(sc.score, 0) > 0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(COUNT(*) AS BIGINT) AS n_test
        FROM lab l LEFT JOIN sc{e} sc USING (doc_id)
        WHERE {_IS_TEST_SQL}
    )""")
        # (instN is identical each epoch — DuckDB dedups via CSE; kept
        # per-epoch so the text parallels the Spark loop exactly)
    union = " UNION ALL ".join(
        f"SELECT epoch, n_correct, n_test FROM acc{e}"
        for e in range(1, N_EPOCHS + 1)
    )
    evals_sql = ",\n    ".join(evals)
    return f"""{ctes},
    {evals_sql},
    allacc AS ({union}),
    best AS (
        SELECT epoch AS best_epoch FROM allacc
        ORDER BY n_correct DESC, epoch ASC LIMIT 1
    )
    SELECT a.epoch, a.n_correct, a.n_test,
           CAST(a.n_correct * 1000000 // a.n_test AS BIGINT)
               AS accuracy_ppm,
           a.epoch = b.best_epoch AS selected
    FROM allacc a, best b"""


@query("q_quality_clf_model_select", sql=_model_select_oracle_sql())
def q_quality_clf_model_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-epoch holdout accuracy for E=4 perceptron epochs plus the
    selected model (accuracy desc, epoch asc — deterministic total
    order). The selection argmax attaches as a one-row broadcast —
    never a driver-side comparison; every value is an integer count
    or an integer-division ppm."""
    from functools import reduce

    lab, ws = clf_epoch_weights(spark, sf_dir)
    test = lab.filter(F.expr(_IS_TEST)).localCheckpoint(eager=False)
    per_epoch = []
    for e, w in enumerate(ws, start=1):
        acc = (
            _scored(test, w, "y")
            .agg(
                F.lit(e).cast("long").alias("epoch"),
                F.sum(
                    F.expr(
                        "CASE WHEN (y = 1) = (score > 0) THEN 1 ELSE 0 END"
                    )
                )
                .cast("long")
                .alias("n_correct"),
                F.count(F.lit(1)).cast("long").alias("n_test"),
            )
        )
        per_epoch.append(acc)
    allacc = reduce(DataFrame.unionByName, per_epoch).localCheckpoint(
        eager=True
    )
    best = (
        allacc.orderBy(F.desc("n_correct"), F.asc("epoch"))
        .limit(1)
        .select(F.col("epoch").alias("best_epoch"))
    )
    return allacc.crossJoin(F.broadcast(best)).select(
        "epoch",
        "n_correct",
        "n_test",
        F.expr("CAST(n_correct * 1000000 div n_test AS BIGINT)").alias(
            "accuracy_ppm"
        ),
        (F.col("epoch") == F.col("best_epoch")).alias("selected"),
    )


def _calibration_oracle_sql() -> str:
    return (
        _chain_ctes()
        + f""",
    {_score_ctes(f"w{N_ITERS}")},
    scored AS (
        SELECT l.doc_id, l.y, COALESCE(sc.score, 0) AS score
        FROM lab l LEFT JOIN sc USING (doc_id)
    ),
    ranked AS (
        SELECT y, score,
               ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
               COUNT(*) OVER () AS n
        FROM scored
    )
    SELECT CAST(10 * (rn - 1) // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_label_good,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS pos_rate_ppm,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM ranked GROUP BY 1"""
    )


@query("q_clf_calibration", sql=_calibration_oracle_sql())
def q_clf_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained classifier: exact global
    score deciles (deterministic (score, doc_id) order via the
    distributed two-pass row_number — never a SinglePartition sort over
    the corpus) with the observed heuristic-good rate per decile in
    integer ppm. A calibrated scorer shows the rate rising with the
    decile; the min/max score columns give the bin edges."""
    from nyc_landmarks_datalake_spark.operators.windows import (
        distributed_row_number,
    )

    lab, _feat, w = clf_chain(spark, sf_dir)
    # the rank pass and the count share the scored relation
    scored = _scored(lab, w, "doc_id", "y").localCheckpoint(eager=False)
    n = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = distributed_row_number(
        scored, ["score", "doc_id"], rn_col="rn"
    ).crossJoin(F.broadcast(n))
    return (
        ranked.select(
            "y",
            "score",
            F.expr("CAST(10 * (rn - 1) div n AS BIGINT)").alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_label_good"),
            F.expr(
                "CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
    )


# ---------------------------------------------------------------------------
# K-fold cross-validation: the robustness protocol a single holdout
# (q_quality_clf_eval) can't give. Each of the N_FOLDS md5-derived
# folds takes a turn as the holdout; the other four train a fresh
# N_ITERS perceptron; the per-fold confusion matrix + integer accuracy
# ppm land in one result. One text pass builds the feature relation —
# every fold's train/test split is a FILTER on the compact (doc, y,
# b, x) relation, never a corpus rescan, so at 100 TB this costs one
# scan plus N_FOLDS * N_ITERS vocabulary-relation joins.
# ---------------------------------------------------------------------------
def _fold_census_sql(j: int) -> str:
    """Fold ``j``'s census row over its holdout, scored by ``sc{j}``."""
    return f"""
    SELECT CAST({j} AS BIGINT) AS fold, {_CONFUSION_SQL}
    FROM (
        SELECT l.y, COALESCE(sc.score, 0) AS score
        FROM lab l LEFT JOIN sc{j} sc USING (doc_id)
        WHERE {_FOLD_SQL} = {j}
    )"""


def _fold_score_ctes(j: int, w: str) -> str:
    """:func:`_score_ctes` ``inst{j}``/``sc{j}`` of fold ``j``'s holdout."""
    return _score_ctes(w, f"lab WHERE {_FOLD_SQL} = {j}", str(j))


def cv_fold_oracle_sql(j: int) -> str:
    """Single-fold CV oracle (fold j's row only) — the bounded-footprint
    decomposition verify_sf10_tail runs at sf10, where the 5-fold
    single statement exceeds DuckDB's memory cap. Same text shapes as
    :func:`_cv_oracle_sql`, one fold."""
    return (
        _chain_ctes(train_where=f"{_FOLD_SQL} != {j}")
        + f",\n    {_fold_score_ctes(j, f'w{N_ITERS}')}"
        + _fold_census_sql(j)
    )


def _cv_oracle_sql() -> str:
    # Own header (vs _chain_ctes) because every fold references feat:
    # AS MATERIALIZED stops DuckDB re-inlining the corpus pass
    # N_FOLDS * (2 * N_ITERS) times (the wordpiece.py lesson).
    stages = [_feat_ctes("MATERIALIZED ")]
    for j in range(N_FOLDS):
        stages.append(f"""tf{j} AS MATERIALIZED (
        SELECT * FROM feat WHERE {_FOLD_SQL} != {j}
    ),
    {_train_ctes(f"tf{j}", N_ITERS, f"{j}x")},
    {_fold_score_ctes(j, f"w{j}x{N_ITERS}")},
    fin{j} AS ({_fold_census_sql(j)}
    )""")
    return (
        "WITH "
        + ",\n    ".join(stages)
        + "\n    "
        + " UNION ALL ".join(f"SELECT * FROM fin{j}" for j in range(N_FOLDS))
    )


@query("q_quality_clf_cv", sql=_cv_oracle_sql())
def q_quality_clf_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_FOLDS-fold cross-validation of the quality classifier: each
    fold's confusion matrix and integer accuracy ppm under a fresh
    N_ITERS training run on the other folds — every value integer-only,
    the fold split a deterministic md5 hash identical in both
    engines."""
    from functools import reduce

    lab, feat = _lab_feat(spark, sf_dir)
    per_fold = []
    for j in range(N_FOLDS):
        *_, w = _epochs(spark, feat.filter(F.expr(f"({_FOLD}) != {j}")))
        scored = _scored(lab.filter(F.expr(f"({_FOLD}) = {j}")), w, "y")
        per_fold.append(
            scored.agg(F.lit(j).cast("long").alias("fold"), *_confusion_aggs())
        )
    return reduce(DataFrame.unionByName, per_fold)
