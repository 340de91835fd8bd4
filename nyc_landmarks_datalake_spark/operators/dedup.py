"""Deduplication operators over ``documents``: exact (hash group-by),
n-gram Jaccard near-dup (inverted-index join), MinHash+LSH banding, and
SimHash signatures.

LLM-data-pipeline extensions (SURVEY §2.B). Design for 100 TB:

- exact dedup: single hash-aggregate shuffle on a 128-bit digest — the
  canonical massive-corpus dedup shape (map-side partial counts first);
- n-gram Jaccard: *inverted index* join on shingles (shuffle keyed by
  shingle, then by pair) — never an O(n^2) cross join; hot shingles are
  the skew risk, which banding (MinHash-LSH) removes;
- MinHash-LSH: per-doc signature is pure map-side codegen; candidate
  generation shuffles (band_id, band_hash) buckets; verification joins
  only within buckets. Bands/rows (4x4, r=4) target J >= ~0.7 recall;
- SimHash: 60-bit signature, pure map-side.

All hashes are md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces every intermediate value bit-for-bit; MinHash coefficients
are baked as literals into BOTH plans from the same Python constants.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.hashing import (
    MERSENNE_P,
    md5_long,
    md5_long_sql,
    minhash_coeffs,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table, table

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
COEFFS = minhash_coeffs(NUM_HASHES)
JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 60
#: inverted-index document-frequency cap: shingles appearing in more
#: than this many documents are dropped from the index before pair
#: expansion. This bounds the hottest bucket's pair blowup at
#: O(MAX_SHINGLE_DF^2) regardless of corpus size — without it a
#: stop-word-like shingle on a 100 TB corpus produces an O(df^2)
#: expansion on ONE task. Discriminative power lives in rare shingles
#: (the same reason MinHash-LSH banding implicitly ignores ubiquitous
#: features), so the cap trades a bounded jaccard underestimate on
#: stop-shingle-only overlaps for a hard skew bound.
#:
#: The SAME capped definition of Jaccard — common shingles counted over
#: df <= cap shingles only, denominators full-size — is used to verify
#: MinHash-LSH candidates below, so "near-dup >= threshold" means one
#: thing engine-wide and the LSH recall census's subset invariant
#: (lsh_pairs ⊆ exact pairs) holds by construction.
MAX_SHINGLE_DF = 100

#: banded-bucket member cap for the pair expansions (MinHash-LSH bands,
#: SimHash bands, embedding LSH buckets — similarity.py imports this).
#: Buckets within the cap expand all ordered pairs, O(cap^2) bounded;
#: an OVERSIZED bucket (a boilerplate-heavy crawl can put thousands of
#: near-identical template pages behind one band hash) degrades to the
#: CONSECUTIVE-PAIR CHAIN of its members sorted by the path's similarity
#: key — b-1 pairs instead of b(b-1)/2, linear in bucket size, so the
#: hottest bucket on a 100 TB corpus costs one bounded task instead of
#: an O(b^2) array blowup. The chain keeps every member connected at the
#: CANDIDATE level only: downstream verification (hamming / cosine /
#: capped Jaccard) filters each chain edge independently, so a
#: mega-bucket whose genuine dup subgroups interleave can lose edges an
#: all-pairs expansion would have found. Sorting chain neighbors by the
#: similarity key (simhash value, embedding vector) makes adjacent
#: members likely to verify; byte-identical mega-groups are additionally
#: covered by the exact-dedup star edges unioned into clustering
#: (see exact_dup_edges).
MAX_BAND_BUCKET = 100


def _all_pairs_expr(col: str) -> str:
    """Spark SQL: all ordered member pairs of sorted array ``col``."""
    return (
        f"flatten(transform({col}, (a, i) -> "
        f"transform(slice({col}, i + 2, size({col})), b -> struct(a, b))))"
    )


def _all_pairs_sql(col: str) -> str:
    """DuckDB mirror of :func:`_all_pairs_expr` (1-based slices)."""
    return (
        f"flatten(list_transform({col}, (a, i) -> "
        f"list_transform({col}[i+1:], b -> {{'a': a, 'b': b}})))"
    )


def pair_expand_expr(col: str, cap: int = MAX_BAND_BUCKET) -> str:
    """Spark SQL expression: ordered member pairs from a sorted bucket
    array ``col`` — all pairs up to ``cap`` members, consecutive-chain
    pairs beyond (see MAX_BAND_BUCKET). Fields named ``a``/``b``.

    The chain branch is guarded on size >= 2: sequence(0, size-2) on a
    1-element array would yield the DESCENDING sequence [0, -1] and emit
    a bogus struct(col[0], col[-1]) — unreachable from the capped
    call sites (all filter size > 1, cap >= 2) but the helper is public
    with an arbitrary ``cap``. The DuckDB mirror's range(1, 1) is
    naturally empty and needs no guard."""
    chain = (
        f"transform(sequence(0, size({col}) - 2), "
        f"i -> struct({col}[i] AS a, {col}[i + 1] AS b))"
    )
    return (
        f"CASE WHEN size({col}) <= {cap} OR size({col}) < 2 "
        f"THEN {_all_pairs_expr(col)} ELSE {chain} END"
    )


def pair_expand_sql(col: str, cap: int = MAX_BAND_BUCKET) -> str:
    """DuckDB mirror of :func:`pair_expand_expr` (1-based lambdas)."""
    chain = (
        f"list_transform(range(1, len({col})), "
        f"i -> {{'a': {col}[i], 'b': {col}[i+1]}})"
    )
    return (
        f"CASE WHEN len({col}) <= {cap} OR len({col}) < 2 "
        f"THEN {_all_pairs_sql(col)} ELSE {chain} END"
    )


def capped_bucket_pairs(
    members: DataFrame,
    bucket_cols: list[str],
    member_col: str = "m",
    key_col: str | None = None,
    cap: int = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate pairs ``p = struct(a, b)`` from bucketed members, with a
    hard bound on BOTH the pair count AND every aggregation buffer.

    A bare ``groupBy(bucket).agg(collect_list(m))`` materializes the
    whole bucket membership in ONE aggregation-buffer row before any
    member cap can apply — a degenerate bucket with 10^7 members on a
    100 TB corpus blows that row regardless of how the pairs are capped.
    Here the bucket size is counted FIRST via a window count (WindowExec
    sorts spill to disk; no single row ever holds the membership):

    - buckets with 2..cap members collect (bounded <= cap structs) and
      expand all ordered pairs in place — identical to the all-pairs
      branch of :func:`pair_expand_expr`;
    - oversized buckets NEVER collect: ``lead(member)`` over the same
      per-bucket window emits the consecutive-member chain with O(1)
      state per row and NO extra shuffle (the chain window sorts within
      the partitioning the count window already established).
      ``key_col`` orders chain neighbors by the path's similarity key
      (simhash value, embedding vector) so adjacent members are likely
      to survive downstream verification; pairs are canonicalized to
      a < b by member order.

    The window count, the small-branch groupBy, and the chain lead all
    hash on the same bucket keys, so ONE data shuffle serves the whole
    expansion — and (r17) the count and the lead share ONE WindowExec:
    both are framed over the same (bucket, order) sort, so one pass
    sorts once and emits both columns, where the r16 shape ran two
    WindowExec sorts (count by bucket, then the chain re-sorted by
    bucket + order). The count's unbounded frame over the ordered
    window equals the plain per-bucket COUNT; the lead is computed for
    every row but only consumed above the cap — chain pairs are
    byte-identical."""
    from pyspark.sql import Window

    order = ([F.col(key_col)] if key_col else []) + [F.col(member_col)]
    w = Window.partitionBy(*bucket_cols).orderBy(*order)
    w_cnt = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    with_n = members.select(
        "*",
        F.count(F.lit(1)).over(w_cnt).alias("__n"),
        F.lead(member_col).over(w).alias("__mb"),
    )
    small = (
        with_n.filter((F.col("__n") > 1) & (F.col("__n") <= cap))
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member_col)).alias("__ms"))
        .select(F.explode(F.expr(_all_pairs_expr("__ms"))).alias("p"))
    )
    ma = F.col(member_col)
    mb = F.col("__mb")
    canon = F.when(ma < mb, F.struct(ma.alias("a"), mb.alias("b"))).otherwise(
        F.struct(mb.alias("a"), ma.alias("b"))
    )
    chain = (
        with_n.filter(F.col("__n") > cap)
        .select(canon.alias("p"))
        .filter(F.col("p.b").isNotNull() & F.col("p.a").isNotNull())
    )
    return small.unionByName(chain)


def capped_pair_ctes_sql(
    prefix: str,
    src: str,
    bucket_cols: list[str],
    m_sql: str,
    k_sql: str | None = None,
    cap: int = MAX_BAND_BUCKET,
) -> str:
    """DuckDB mirror of :func:`capped_bucket_pairs`: CTE fragments
    ``{prefix}cnt/{prefix}small/{prefix}big/{prefix}chain/{prefix}pairs``
    over source relation ``src``; consume ``SELECT p FROM {prefix}pairs``."""
    bc = ", ".join(bucket_cols)
    on = " AND ".join(f"x.{c} = y.{c}" for c in bucket_cols)
    order = f"{k_sql}, {m_sql}" if k_sql else m_sql
    return f"""{prefix}cnt AS (
        SELECT *, COUNT(*) OVER (PARTITION BY {bc}) AS __n FROM {src}
    ),
    {prefix}small AS (
        SELECT unnest({_all_pairs_sql('__ms')}) AS p FROM (
            SELECT {bc}, list_sort(list({m_sql})) AS __ms
            FROM {prefix}cnt WHERE __n BETWEEN 2 AND {cap}
            GROUP BY {bc}
        )
    ),
    {prefix}big AS (
        SELECT {bc}, {m_sql} AS __m,
               row_number() OVER (PARTITION BY {bc} ORDER BY {order}) AS rn
        FROM {prefix}cnt WHERE __n > {cap}
    ),
    {prefix}chain AS (
        SELECT CASE WHEN x.__m < y.__m THEN {{'a': x.__m, 'b': y.__m}}
                    ELSE {{'a': y.__m, 'b': x.__m}} END AS p
        FROM {prefix}big x JOIN {prefix}big y ON {on} AND y.rn = x.rn + 1
    ),
    {prefix}pairs AS (
        SELECT p FROM {prefix}small UNION ALL SELECT p FROM {prefix}chain
    )"""


# ---------------------------------------------------------------------------
# Exact dedup: one hash-agg over a text digest.
# ---------------------------------------------------------------------------
@query(
    "q_dedup_exact",
    sql="""
    SELECT md5(text) AS text_md5,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_id"),
    )


def exact_dup_edges(docs: DataFrame) -> DataFrame:
    """(doc1 = canonical = min id, doc2 = other member) star edges per
    byte-identical text group — O(group size) edges via a window min,
    never a pair expansion, so a 10^6-copy template group costs 10^6-1
    edges on a spill-safe window sort.

    Unioned into the clustering input of q_dup_clusters/q_dedup_apply:
    the df-capped verification Jaccard scores pairs inside >MAX_SHINGLE_DF
    template groups 0 (all their shingles are hot, kept-sets empty), so
    LSH pairs alone would leave byte-identical mega-groups undeduped —
    the star edges restore exactly that class. doc1 < doc2 always holds
    (canonical is the group min)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col("text")))
    return (
        docs.select("doc_id", F.min("doc_id").over(w).alias("canonical_id"))
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select(
            F.col("canonical_id").alias("doc1"), F.col("doc_id").alias("doc2")
        )
    )


#: DuckDB mirror of :func:`exact_dup_edges` (a complete SELECT, to be
#: wrapped in a CTE by consumers).
EXACT_DUP_EDGES_SQL = """
    SELECT canonical_id AS doc1, doc_id AS doc2 FROM (
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents
    ) WHERE doc_id <> canonical_id
"""


# --- shared shingle machinery ----------------------------------------------

def sh_spark_expr(n: int = 3) -> str:
    """Spark SQL expression for distinct n-word shingles over ``toks``.

    Shingle WIDTH is the density-control knob at scale: the shingle
    space is |vocab|^n, so on a low-entropy corpus a small n saturates
    document frequencies and the df cap empties the inverted index
    (observed: 3-grams over the ~40-word synthetic vocab leave ZERO
    df<=cap shingles at sf10's 500k docs). Production web dedup uses
    5-10-gram shingles for exactly this reason (Broder '97 used 10)."""
    parts = ", ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return (
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(toks)-{n}), "
        f"i -> concat_ws(' ', {parts}))) "
        "ELSE array(concat_ws(' ', toks)) END"
    )


def sh_duck_expr(n: int = 3) -> str:
    """DuckDB mirror of :func:`sh_spark_expr` (1-based list indexing)."""
    parts = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len(toks)-{n}+2), "
        f"i -> {parts})) "
        "ELSE [array_to_string(toks, ' ')] END"
    )


_SH_SPARK = sh_spark_expr(3)

_SH_DUCK = sh_duck_expr(3)


def shingled(docs: DataFrame, materialize: bool = False) -> DataFrame:
    """doc_id + distinct 3-word shingle array (map-side only).

    ``materialize=True`` inserts a lazy localCheckpoint after the
    shingle computation. Pass it whenever the result feeds explode():
    GenerateExec re-evaluates its input expression while generating,
    so exploding the raw expression pays the split+transform+distinct
    chain far beyond once per row — measured 14x slower at sf0.1
    (3.6 s vs 0.26 s for explode over materialized arrays). The
    checkpoint trades one linear write of the shingle arrays (spilled
    to local disk, freed when the plan is GC'd) for that re-evaluation
    — the right trade at any scale. Leave False for map-side-only
    consumers (minhash/simhash signatures), which read the array
    column once per row through ordinary projections."""
    sh = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select("doc_id", F.expr(_SH_SPARK).alias("shingles"))
    return sh.localCheckpoint(eager=False) if materialize else sh


def _shingled_duck(n: int) -> str:
    """DuckDB mirror of the n-word shingle frame (doc_id, shingles)."""
    return f"""
    SELECT doc_id, {sh_duck_expr(n)} AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


_SHINGLED_DUCK = _shingled_duck(3)


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup via inverted-index join.
# ---------------------------------------------------------------------------
def _capped_common_counts(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """(doc1, n1, doc2, n2, n_common) for every doc pair sharing a
    shingle of document frequency in [2, max_df]: the capped inverted
    index over a materialized shingle frame. Postings carry each doc's
    FULL shingle count, so no sizes-join is needed; pairs expand in
    place per shingle and one shuffle per pair counts the common ones."""
    from pyspark.sql import Window

    inv = sh.select(
        F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("m"),
        F.explode("shingles").alias("shingle"),
    )
    # df is counted by a WINDOW over the postings (spill-safe sort)
    # BEFORE any membership collects: a stop-word-like shingle with 10^7
    # postings on a 100 TB corpus is filtered row-wise and never
    # materializes as one aggregation-buffer array. The window and the
    # groupBy hash on the same key, so the exchange is reused.
    w_sh = Window.partitionBy("shingle")
    buckets = (
        inv.withColumn("__df", F.count(F.lit(1)).over(w_sh))
        .filter((F.col("__df") > 1) & (F.col("__df") <= max_df))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
    )
    pairs = buckets.select(F.explode(F.expr(_all_pairs_expr("ms"))).alias("p"))
    return pairs.groupBy(
        F.col("p.a.doc_id").alias("doc1"),
        F.col("p.a.n_sh").alias("n1"),
        F.col("p.b.doc_id").alias("doc2"),
        F.col("p.b.n_sh").alias("n2"),
    ).agg(F.count(F.lit(1)).alias("n_common"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs with Jaccard >= threshold over 3-gram
    shingles, via an inverted index WITHOUT a self-join: group postings
    per shingle, expand ordered pairs in place, then one shuffle per
    pair for the intersection counts. Doc sizes travel with the
    postings so no extra sizes-join is needed.

    ``max_df`` drops shingles whose document frequency exceeds the cap
    BEFORE pair expansion — the hottest bucket expands at most
    max_df*(max_df-1)/2 pairs on one task, a hard skew bound at any
    corpus size. Jaccard is then computed over retained shingles only
    (denominators stay full-size, so capped scores only ever
    underestimate — conservative for dedup).

    ``sh`` lets a caller that already materialized :func:`shingled`
    (e.g. the LSH recall census, which feeds BOTH pair generators from
    one shingle frame) pass it in instead of checkpointing the most
    expensive intermediate twice."""
    if sh is None:
        sh = shingled(docs, materialize=True)
    counted = _capped_common_counts(sh, max_df)
    jaccard = F.col("n_common") * F.lit(1.0) / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return counted.filter(jaccard >= threshold).select(
        "doc1", "doc2", jaccard.alias("jaccard")
    )


#: DuckDB mirror of :func:`_capped_common_counts` over a CTE ``sh``:
#: the postings ``inv`` of shingles with df in [2, MAX_SHINGLE_DF], and
#: the pair-count SELECT (doc1, doc2, n_common) over them.
_INV_CTES = f"""inv0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    keep AS (
        SELECT shingle FROM inv0
        GROUP BY shingle
        HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
    ),
    inv AS (SELECT inv0.* FROM inv0 JOIN keep USING (shingle))"""
_COMMON_COUNTS_SQL = """
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """
#: the capped Jaccard of a counted pair joined to both docs' ``sh`` rows
_JACCARD_DUCK = (
    "(n_common * 1.0) / (len(s1.shingles) + len(s2.shingles) - n_common)"
)


def _inv_index_sql(sh_sql: str, cols: str, score: str, threshold: float) -> str:
    """Oracle of an inverted-index near-dup pass: the counted pairs over
    shingle frame ``sh_sql``, joined to both docs' shingle sets, emitting
    doc1, doc2 and ``cols`` where ``score`` >= ``threshold``."""
    return f"""
    WITH sh AS ({sh_sql}),
    {_INV_CTES},
    pairs AS ({_COMMON_COUNTS_SQL})
    SELECT doc1, doc2, {cols}
    FROM pairs
    JOIN sh s1 ON s1.doc_id = doc1
    JOIN sh s2 ON s2.doc_id = doc2
    WHERE {score} >= {threshold}
    """


@query(
    "q_dedup_ngram_jaccard",
    sql=_inv_index_sql(
        _SHINGLED_DUCK, f"{_JACCARD_DUCK} AS jaccard", _JACCARD_DUCK,
        JACCARD_THRESHOLD,
    ),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(compute_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Wide-shingle Jaccard near-dup — the corpus-density-robust setting.
# 3-gram shingles saturate on a low-entropy vocabulary: at sf10's 500k
# docs EVERY 3-gram exceeds MAX_SHINGLE_DF and the verified tier goes
# empty (both engines agree, but the operator finds nothing). Widening
# to SHINGLE_WIDE grows the shingle space to |vocab|^w, so organic df
# drops to ~1 while template near-dups still share their (long) runs —
# at any corpus size the cap then only drops genuine boilerplate.
# Same inverted-index machinery, same df cap, different density.
# ---------------------------------------------------------------------------
SHINGLE_WIDE = 7


def _wide_shingled(docs: DataFrame) -> DataFrame:
    """doc_id + distinct SHINGLE_WIDE-word shingle array, lazily
    checkpointed (it feeds the inverted index's explode)."""
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.expr(sh_spark_expr(SHINGLE_WIDE)).alias("shingles"))
        .localCheckpoint(eager=False)
    )


@query(
    "q_dedup_jaccard_wide",
    sql=_inv_index_sql(
        _shingled_duck(SHINGLE_WIDE), f"{_JACCARD_DUCK} AS jaccard",
        _JACCARD_DUCK, JACCARD_THRESHOLD,
    ),
)
def q_dedup_jaccard_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, sh=_wide_shingled(docs))


# --- MinHash ----------------------------------------------------------------


def _minhash_cols() -> list[Column]:
    """One min-hash per (a,b) coefficient over a pre-materialized
    shingle-hash array column ``xs`` (materializing xs once keeps the
    md5 pass at 1x; inlining it here would recompute the digests once
    per signature column — a measured 16x blowup)."""
    cols = []
    for i, (a, b) in enumerate(COEFFS):
        cols.append(
            F.array_min(
                F.transform(
                    F.col("xs"), lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P
                )
            ).alias(f"sig_{i:02d}")
        )
    return cols


def _with_xs(sh: DataFrame) -> DataFrame:
    """Add the shingle-hash array (the single md5 pass)."""
    return sh.withColumn(
        "xs", F.transform(F.col("shingles"), lambda s: md5_long(s) % MERSENNE_P)
    )


def _minhash_sql_exprs() -> list[str]:
    xs = f"list_transform(shingles, s -> {md5_long_sql('s')} % {MERSENNE_P})"
    return [
        f"list_min(list_transform({xs}, x -> ({a} * x + {b}) % {MERSENNE_P}))"
        f" AS sig_{i:02d}"
        for i, (a, b) in enumerate(COEFFS)
    ]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    return _with_xs(shingled(docs)).select("doc_id", *_minhash_cols())


# ---------------------------------------------------------------------------
# MinHash signature parity (strong check of the hash machinery itself).
# ---------------------------------------------------------------------------
@query(
    "q_minhash_signatures",
    sql=f"""
    WITH sh AS ({_SHINGLED_DUCK})
    SELECT doc_id, {', '.join(_minhash_sql_exprs())}
    FROM sh
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(compute_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs: band → bucket-join → verified Jaccard.
# ---------------------------------------------------------------------------
def _band_hash_spark(j: int) -> Column:
    sig_slice = [F.col(f"sig_{i:02d}") for i in range(j * ROWS_PER_BAND, (j + 1) * ROWS_PER_BAND)]
    return F.md5(F.concat_ws(",", *[c.cast("string") for c in sig_slice]))


def _band_structs() -> Column:
    """Array of the BANDS (band_id, band_hash) structs of a minhash
    signature row — exploded, never self-joined (a bands self-join would
    duplicate the signature subtree into every branch)."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"), _band_hash_spark(j).alias("band_hash")
            )
            for j in range(BANDS)
        ]
    )


def _band_hash_sql(j: int) -> str:
    cols = ", ".join(
        f"CAST(sig_{i:02d} AS VARCHAR)"
        for i in range(j * ROWS_PER_BAND, (j + 1) * ROWS_PER_BAND)
    )
    return f"md5(concat_ws(',', {cols}))"


def _kept_ctes_sql(p: str) -> str:
    """DuckDB mirror of :func:`_kept_sets` over the shingle CTE
    ``{p}sh``: the hot-shingle list ``{p}hot`` (df > MAX_SHINGLE_DF) and
    the per-doc (doc_id, n_sh, kept) sets ``{p}shk``."""
    return f"""{p}hot AS (
        SELECT coalesce(list(shingle), []) AS hot_shingles FROM (
            SELECT shingle
            FROM (SELECT doc_id, unnest(shingles) AS shingle FROM {p}sh)
            GROUP BY shingle
            HAVING COUNT(*) > {MAX_SHINGLE_DF}
        )
    ),
    {p}shk AS (
        SELECT doc_id, len(shingles) AS n_sh,
               list_filter(shingles,
                           s -> NOT list_contains({p}hot.hot_shingles, s)) AS kept
        FROM {p}sh CROSS JOIN {p}hot
    )"""


#: CTE-list fragment for the LSH pair pipeline, reusable by downstream
#: consumers (q_dup_clusters prepends WITH RECURSIVE and appends its own
#: CTEs). Kept flat — one level of WITH — for exactly that reason.
#: Candidate buckets are member-capped with membership-bounded buffers
#: (capped_pair_ctes_sql) and the verification Jaccard is the df-capped
#: definition shared with the exact n-gram path: common shingles counted
#: over df <= MAX_SHINGLE_DF shingles only ("kept"), denominators
#: full-size.
LSH_PAIR_CTES = f"""sh AS ({_SHINGLED_DUCK}),
    sig AS (
        SELECT doc_id, shingles, {', '.join(_minhash_sql_exprs())}
        FROM sh
    ),
    bands AS (
        {' UNION ALL '.join(
            f"SELECT doc_id, {j} AS band_id, {_band_hash_sql(j)} AS band_hash FROM sig"
            for j in range(BANDS)
        )}
    ),
    {capped_pair_ctes_sql('bb_', 'bands', ['band_id', 'band_hash'], 'doc_id')},
    cand AS (
        SELECT DISTINCT p.a AS doc1, p.b AS doc2 FROM bb_pairs
    ),
    {_kept_ctes_sql("")},
    lsh_pairs AS (
        SELECT doc1, doc2,
               (len(list_intersect(s1.kept, s2.kept)) * 1.0) /
               (s1.n_sh + s2.n_sh - len(list_intersect(s1.kept, s2.kept)))
                   AS jaccard
        FROM cand
        JOIN shk s1 ON s1.doc_id = doc1
        JOIN shk s2 ON s2.doc_id = doc2
        WHERE (len(list_intersect(s1.kept, s2.kept)) * 1.0) /
              (s1.n_sh + s2.n_sh - len(list_intersect(s1.kept, s2.kept)))
              >= {JACCARD_THRESHOLD}
    )"""


def _lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """(doc1, doc2) candidate pairs from a minhash signature frame:
    bands explode from an array of band structs (a self-join on bands
    would duplicate the signature subtree into every branch — 8x the
    md5 work), candidate pairs expand inside (band_id, band_hash)
    buckets via capped_bucket_pairs — all-pairs up to MAX_BAND_BUCKET
    members, consecutive doc-id chain beyond, and no aggregation buffer
    ever holds more than MAX_BAND_BUCKET members (oversized buckets take
    the row_number/self-join chain path, never a collect). Shared by the
    dedup path and the calibration diagnostic so banding changes can
    never desynchronize them."""
    bands = sig.select("doc_id", F.explode(_band_structs()).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_hash").alias("band_hash"),
    )
    return (
        capped_bucket_pairs(bands, ["band_id", "band_hash"], member_col="doc_id")
        .select(F.col("p.a").alias("doc1"), F.col("p.b").alias("doc2"))
        .distinct()
    )


def _kept_sets(sh: DataFrame) -> DataFrame:
    """Per-doc df-capped shingle sets: doc_id, n_sh (FULL shingle
    count), kept (the DISTINCT shingles with df <= MAX_SHINGLE_DF —
    array_except set semantics, matching the oracle's list_intersect
    counting).

    Scale shape (rewritten r10 after the sf0.1→sf10 scaling series
    measured 28x on 10x data): the hot set is NOT bounded — an absolute
    df threshold means 10x corpus → ~10x more shingles cross it (738 at
    native sf1, 50,653 at sf10) — and the old broadcast
    ``array_except(shingles, hot_array)`` rebuilt an H-element hash set
    PER ROW, O(rows x H). The join form is linear at every scale: one
    anti-join of exploded shingle instances against the hot relation
    (broadcast while small, ordinary shuffle when not), then a per-doc
    collect_set. Docs whose shingles are ALL hot (or empty) keep a row
    with kept = [] via the left join, exactly like array_except."""
    inst = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    hot = (
        inst.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    kept = (
        inst.join(hot, "shingle", "left_anti")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("kept"))
    )
    return (
        sh.select("doc_id", F.size("shingles").alias("n_sh"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce(
                F.col("kept"), F.array().cast("array<string>")
            ).alias("kept"),
        )
    )


def _with_kept_sets(pairs: DataFrame, sh: DataFrame) -> tuple[DataFrame, Column]:
    """``pairs`` (doc1, doc2, ...) joined to both docs' :func:`_kept_sets`
    rows (d1, n1, k1 / d2, n2, k2), and the pair's df-capped common
    shingle count over them. Callers apply their own threshold."""
    shk = _kept_sets(sh)
    s1 = shk.select(
        F.col("doc_id").alias("d1"),
        F.col("n_sh").alias("n1"),
        F.col("kept").alias("k1"),
    )
    s2 = shk.select(
        F.col("doc_id").alias("d2"),
        F.col("n_sh").alias("n2"),
        F.col("kept").alias("k2"),
    )
    joined = pairs.join(s1, F.col("doc1") == F.col("d1")).join(
        s2, F.col("doc2") == F.col("d2")
    )
    return joined, F.size(F.array_intersect(F.col("k1"), F.col("k2")))


def lsh_verified_pairs(sh: DataFrame) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs from a PRE-MATERIALIZED
    shingle frame (pass ``shingled(docs, materialize=True)``).

    Signatures are computed ONCE map-side; candidates expand inside
    member-capped band buckets; verification uses the df-capped Jaccard
    shared with the exact n-gram path (common shingles counted over
    df <= MAX_SHINGLE_DF only, via :func:`_with_kept_sets`;
    denominators full-size). One definition of "near-dup >= threshold"
    engine-wide — and any verified pair has a retained common shingle,
    so lsh_pairs ⊆ exact pairs by construction (the census row proves
    it)."""
    sig = (
        _with_xs(sh)
        .select("doc_id", *_minhash_cols())
        .localCheckpoint(eager=False)
    )
    joined, n_common = _with_kept_sets(_lsh_candidate_pairs(sig), sh)
    jaccard = n_common * F.lit(1.0) / (F.col("n1") + F.col("n2") - n_common)
    return joined.filter(jaccard >= JACCARD_THRESHOLD).select(
        "doc1", "doc2", jaccard.alias("jaccard")
    )


@query(
    "q_dedup_minhash_lsh",
    sql=f"""
    WITH {LSH_PAIR_CTES}
    SELECT doc1, doc2, jaccard FROM lsh_pairs
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    # materialized: sh feeds THREE consumers (signatures + hot-shingle
    # census + verification kept-sets) and sig feeds a generator —
    # without the lazy checkpoints the shingle chain re-evaluates per
    # consumer and GenerateExec re-evaluates the 16-hash minhash chain
    # while banding (see shingled() docstring; measured 2.6x at sf0.1)
    return lsh_verified_pairs(shingled(docs, materialize=True))


# ---------------------------------------------------------------------------
# SimHash signatures (60-bit, unrolled bit loop — pure codegen).
# ---------------------------------------------------------------------------

#: doc_id → 60-bit simhash, DuckDB form (shared by signature parity and
#: the banded hamming near-dup below).
_SIMHASH_DUCK = f"""
    SELECT doc_id,
           {' + '.join(
               f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1))"
               f" > len(hs) THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
               for b in range(SIMHASH_BITS)
           )} AS simhash
    FROM (
        SELECT doc_id,
               list_transform(list_distinct(string_split(text, ' ')),
                              w -> {md5_long_sql('w')}) AS hs
        FROM documents
    )
"""


def simhash_df(docs: DataFrame) -> DataFrame:
    """doc_id + 60-bit simhash — pure map-side, no shuffle.

    Cost note (measured at sf0.1): the 60 filter/size terms evaluate
    ~60 shift-and ops per token through Spark's interpreted
    higher-order-function path — ~1.7 s for 5k docs vs DuckDB's 0.2 s
    vectorized run. A packed-counter rewrite (4 counters per long, 15
    traversals) measured the SAME: the cost is total elementary ops,
    not traversal count, so the straightforward form stays. Scales
    linearly with corpus size and parallelizes embarrassingly."""
    hs = F.transform(
        F.array_distinct(F.split(F.col("text"), " ")), lambda w: md5_long(w)
    )
    base = docs.select("doc_id", hs.alias("hs"))
    n = F.size(F.col("hs"))
    bit_terms = []
    for b in range(SIMHASH_BITS):
        ones = F.size(
            F.filter(
                F.col("hs"),
                lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
            )
        )
        bit_terms.append(
            F.when(2 * ones > n, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    simhash = _reduce(lambda x, y: x + y, bit_terms)
    return base.select("doc_id", simhash.alias("simhash"))


@query("q_simhash_signatures", sql=_SIMHASH_DUCK)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_df(compute_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SimHash near-dup: band the 60-bit signature into 4x15-bit keys; docs
# sharing a band bucket are candidates; verify hamming(sig1, sig2) <= k.
# Pigeonhole: any pair within hamming 3 shares a clean band, so with
# HAMMING_MAX = 3 recall is EXACT (no missed pair) for buckets within
# MAX_BAND_BUCKET members — the standard web-scale simhash dedup layout
# (signatures are 8 bytes/doc; bucketing is the only shuffle and never
# touches text). An oversized bucket degrades to the consecutive-pair
# chain (see MAX_BAND_BUCKET): pairwise completeness is traded inside
# mega-buckets only, connectivity (what clustering consumes) is kept.
# ---------------------------------------------------------------------------
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
HAMMING_MAX = 3


def banded_hamming_pairs(sig: DataFrame, sig_col: str) -> DataFrame:
    """(doc1, doc2, hamming <= HAMMING_MAX) near-dup pairs from a
    (doc_id, ``sig_col``) signature frame via the 4x15-bit banded
    layout — ONE copy of the machinery for every hamming-space
    signature (text simhash, image average-hash, ...).

    Bands explode from an inline array (a bands self-join would
    duplicate the whole signature subtree); pairs expand inside
    member-capped buckets; verification is pure bit math on the pair.
    Oversized buckets chain in SIGNATURE order (key_col) — adjacent
    chain members are numerically-close signatures, so chain edges are
    likely to pass the hamming filter (candidate connectivity would
    otherwise be destroyed by verification in an id-interleaved
    mega-bucket). hamming is computed and filtered BEFORE the
    pair-dedup shuffle so the distinct only carries surviving pairs
    (filter(distinct(x)) == distinct(filter(x)) since hamming is a
    function of the pair). Callers should localCheckpoint(eager=False)
    the signature frame if its computation is expensive (GenerateExec
    re-evaluates its input while banding)."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.shiftright(F.col(sig_col), j * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )
    bands = sig.select(
        F.struct("doc_id", sig_col).alias("m"), F.explode(band_structs).alias("b")
    ).select("m", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("long")
    return (
        capped_bucket_pairs(
            bands, ["band_id", "band_key"], member_col="m", key_col=f"m.{sig_col}"
        )
        .select(
            F.col("p.a.doc_id").alias("doc1"),
            F.col(f"p.a.{sig_col}").alias("s1"),
            F.col("p.b.doc_id").alias("doc2"),
            F.col(f"p.b.{sig_col}").alias("s2"),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc1", "doc2", "hamming")
        .distinct()
    )


def banded_hamming_tail_sql(sig_col: str, prefix: str) -> str:
    """The oracle twin of :func:`banded_hamming_pairs`: bands/pairs/
    cand CTEs plus the final hamming SELECT, reading a CTE named
    ``sig`` that provides (doc_id, ``sig_col``). Compose as
    ``WITH sig AS (...), {banded_hamming_tail_sql(...)}``."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {sig_col}, {j} AS band_id,"
        f" ({sig_col} >> {j * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        f" AS band_key FROM sig"
        for j in range(SIMHASH_BANDS)
    )
    pair_ctes = capped_pair_ctes_sql(
        prefix,
        "bands",
        ["band_id", "band_key"],
        "{'doc_id': doc_id, '" + sig_col + "': " + sig_col + "}",
        k_sql=sig_col,
    )
    return f"""bands AS (
        {bands}
    ),
    {pair_ctes},
    cand AS (
        SELECT DISTINCT p.a.doc_id AS doc1, p.a.{sig_col} AS s1,
                        p.b.doc_id AS doc2, p.b.{sig_col} AS s2
        FROM {prefix}pairs
    )
    SELECT doc1, doc2,
           CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(s1, s2)) <= {HAMMING_MAX}"""


@query(
    "q_dedup_simhash_hamming",
    sql=f"""
    WITH sig AS ({_SIMHASH_DUCK}),
    {banded_hamming_tail_sql('simhash', 'sb_')}
    """,
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature computed once; the lazy checkpoint keeps GenerateExec
    # from re-evaluating the 60-term simhash chain while banding (see
    # shingled() docstring).
    sig = simhash_df(compute_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    return banded_hamming_pairs(sig, "simhash")


# ---------------------------------------------------------------------------
# MinHash calibration: estimated Jaccard (fraction of agreeing
# signature components) vs BOTH the uncapped exact Jaccard (what MinHash
# mathematically estimates — the S-curve axis) AND the df-capped Jaccard
# (the score the dedup pipeline actually thresholds on), for every LSH
# candidate pair. Emitting both keeps the diagnostic honest: est vs
# exact measures the estimator, capped vs exact measures what the df cap
# costs on real pairs. Run it on a sample whenever NUM_HASHES/BANDS
# change. Same bucketed candidate generation as the dedup path (never
# all-pairs); all scores are integer ratios, so cross-engine exact.
# ---------------------------------------------------------------------------
_EST_SQL = (
    "(("
    + " + ".join(
        f"CASE WHEN a.sig_{i:02d} = b.sig_{i:02d} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    + f") * 1.0) / {NUM_HASHES}"
)


@query(
    "q_minhash_calibration",
    sql=f"""
    WITH {LSH_PAIR_CTES},
    est AS (
        SELECT doc1, doc2, {_EST_SQL} AS est_jaccard
        FROM cand
        JOIN sig a ON a.doc_id = doc1
        JOIN sig b ON b.doc_id = doc2
    )
    SELECT e.doc1, e.doc2, e.est_jaccard,
           (len(list_intersect(s1.shingles, s2.shingles)) * 1.0) /
           len(list_distinct(list_concat(s1.shingles, s2.shingles)))
               AS exact_jaccard,
           (len(list_intersect(k1.kept, k2.kept)) * 1.0) /
           (k1.n_sh + k2.n_sh - len(list_intersect(k1.kept, k2.kept)))
               AS capped_jaccard
    FROM est e
    JOIN sh s1 ON s1.doc_id = e.doc1
    JOIN sh s2 ON s2.doc_id = e.doc2
    JOIN shk k1 ON k1.doc_id = e.doc1
    JOIN shk k2 ON k2.doc_id = e.doc2
    """,
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    # sig stays doc_id + 16 longs (shingles join back from the already
    # materialized sh, as in the dedup path) — carrying the shingle
    # arrays through the banding explode and both candidate joins would
    # checkpoint and shuffle the largest column twice for nothing
    sh = shingled(docs, materialize=True)
    sig = (
        _with_xs(sh)
        .select("doc_id", *_minhash_cols())
        .localCheckpoint(eager=False)
    )
    cand = _lsh_candidate_pairs(sig)
    a = sig.select(
        F.col("doc_id").alias("g1"),
        *[F.col(f"sig_{i:02d}").alias(f"a_{i:02d}") for i in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("g2"),
        *[F.col(f"sig_{i:02d}").alias(f"b_{i:02d}") for i in range(NUM_HASHES)],
    )
    s1 = sh.select(F.col("doc_id").alias("e1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("e2"), F.col("shingles").alias("sh2"))
    joined, n_kc = _with_kept_sets(
        cand.join(a, F.col("doc1") == F.col("g1"))
        .join(b, F.col("doc2") == F.col("g2"))
        .join(s1, F.col("doc1") == F.col("e1"))
        .join(s2, F.col("doc2") == F.col("e2")),
        sh,
    )
    est = (
        sum(
            F.when(F.col(f"a_{i:02d}") == F.col(f"b_{i:02d}"), 1).otherwise(0)
            for i in range(NUM_HASHES)
        )
        * F.lit(1.0)
        / NUM_HASHES
    )
    exact = (
        F.size(F.array_intersect(F.col("sh1"), F.col("sh2"))) * F.lit(1.0)
    ) / F.size(F.array_union(F.col("sh1"), F.col("sh2")))
    capped = n_kc * F.lit(1.0) / (F.col("n1") + F.col("n2") - n_kc)
    return joined.select(
        "doc1",
        "doc2",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        capped.alias("capped_jaccard"),
    )


# ---------------------------------------------------------------------------
# LSH recall census: compare the banded candidate pipeline's verified
# pairs against the exact inverted-index pairs at the same threshold —
# ONE summary row (pairs found by both / only exact / only LSH). The
# acceptance metric for any approximate-dedup deployment; "only_exact"
# is the banding's recall loss, "only_lsh" must be 0: both paths score
# the SAME df-capped Jaccard (common shingles over df <= MAX_SHINGLE_DF
# only, full-size denominators), and any pair passing LSH verification
# has a retained common shingle, so it appears in the exact inverted
# index too — a genuine subset by construction, which the row proves.
# Both generators feed off ONE materialized shingle frame (the most
# expensive intermediate is checkpointed once, not twice).
# ---------------------------------------------------------------------------
@query(
    "q_lsh_recall_census",
    sql=f"""
    WITH {LSH_PAIR_CTES},
    {_INV_CTES},
    exact_pairs AS (
        SELECT doc1, doc2 FROM ({_COMMON_COUNTS_SQL}) p
        JOIN sh s1 ON s1.doc_id = p.doc1
        JOIN sh s2 ON s2.doc_id = p.doc2
        WHERE {_JACCARD_DUCK} >= {JACCARD_THRESHOLD}
    ),
    l AS (SELECT doc1, doc2 FROM lsh_pairs)
    SELECT
        CAST(SUM(CASE WHEN e.doc1 IS NOT NULL AND l.doc1 IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN l.doc1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_only_exact,
        CAST(SUM(CASE WHEN e.doc1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_only_lsh
    FROM exact_pairs e
    FULL OUTER JOIN l ON e.doc1 = l.doc1 AND e.doc2 = l.doc2
    """,
)
def q_lsh_recall_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = compute_table(spark, sf_dir, "documents")
    sh = shingled(docs, materialize=True)
    exact = ngram_jaccard_pairs(docs, sh=sh).select("doc1", "doc2")
    lsh = lsh_verified_pairs(sh).select("doc1", "doc2")
    e = exact.withColumn("in_e", F.lit(1))
    l = lsh.withColumn("in_l", F.lit(1))
    joined = e.join(l, ["doc1", "doc2"], "full_outer")
    return joined.agg(
        F.sum(
            F.when(F.col("in_e").isNotNull() & F.col("in_l").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        F.sum(F.when(F.col("in_l").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_only_exact"),
        F.sum(F.when(F.col("in_e").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_only_lsh"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup (Broder's asymmetric measure): a short doc
# verbatim-embedded in a long one scores |A∩B|/min(|A|,|B|) ~ 1 while
# its Jaccard stays low (the union is dominated by the long doc) — so
# quote-expansion / boilerplate-wrapping duplicates are invisible to
# the symmetric pass. Same capped inverted index as the Jaccard passes
# (_capped_common_counts / _inv_index_sql over the SHINGLE_WIDE frame,
# df cap before pair expansion); only the final normalization differs.
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.9


_CONTAINMENT_DUCK = (
    "(n_common * 1.0) / least(len(s1.shingles), len(s2.shingles))"
)


@query(
    "q_dedup_containment",
    sql=_inv_index_sql(
        _shingled_duck(SHINGLE_WIDE),
        f"CAST(n_common AS BIGINT) AS n_common, {_CONTAINMENT_DUCK} AS containment",
        _CONTAINMENT_DUCK,
        CONTAINMENT_THRESHOLD,
    ),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset pairs by shingle containment (>= 0.9).

    Recall limitation (inherited from the df cap, mirrored in the
    oracle so the gate can't see it): ``n_common`` is counted only
    over shingles with df in [2, MAX_SHINGLE_DF], but the denominator
    is the FULL min shingle-set size. A short doc embedded in more
    than MAX_SHINGLE_DF documents — ubiquitous boilerplate, exactly
    the asymmetric case this measure targets — has its shared shingles
    capped out of the numerator and silently falls below the
    threshold. At corpus scale this is the standard trade (uncapped
    df-10^6 shingles would quadratically explode the pair expansion);
    callers who need the boilerplate tail should run a dedicated pass
    with the top-df shingles routed through a frequency-bucketed join
    instead of raising the cap.
    """
    docs = compute_table(spark, sf_dir, "documents")
    counted = _capped_common_counts(_wide_shingled(docs))
    containment = F.col("n_common") * F.lit(1.0) / F.least(
        F.col("n1"), F.col("n2")
    )
    return counted.filter(containment >= CONTAINMENT_THRESHOLD).select(
        "doc1",
        "doc2",
        F.col("n_common").cast("long").alias("n_common"),
        containment.alias("containment"),
    )


# ---------------------------------------------------------------------------
# Per-domain dedup cascade: MinHash-LSH partitioned by source with
# per-source thresholds — the production web-crawl shape.
# ---------------------------------------------------------------------------

#: per-source Jaccard threshold tiers in ppm: 0.3 / 0.4 / 0.5, assigned
#: deterministically from the source name's md5. Production crawls tune
#: dedup aggressiveness per domain (template-heavy hosts need stricter
#: thresholds than prose-heavy ones); the ppm form keeps the threshold
#: comparison INTEGER-exact on both engines (1e6*n_common >= thr*(union))
#: instead of comparing floats.
DOMAIN_THR_BASE_PPM = 300_000
DOMAIN_THR_STEP_PPM = 100_000
DOMAIN_THR_TIERS = 3


def _domain_thr_ppm_spark(source: Column) -> Column:
    return (
        F.lit(DOMAIN_THR_BASE_PPM)
        + F.lit(DOMAIN_THR_STEP_PPM) * (md5_long(source) % DOMAIN_THR_TIERS)
    ).cast("long")


def _domain_thr_ppm_sql(source: str) -> str:
    return (
        f"CAST({DOMAIN_THR_BASE_PPM} + {DOMAIN_THR_STEP_PPM} * "
        f"({md5_long_sql(source)} % {DOMAIN_THR_TIERS}) AS BIGINT)"
    )


def domain_dedup_ctes_sql(src: str) -> str:
    """DuckDB CTE chain ``dsh .. dver`` of the per-domain dedup cascade
    over relation ``src`` (must expose doc_id, source, text): shingles →
    signatures → source-keyed bands (the member struct {'source',
    'doc_id'} survives the capped pair expansion, so each pair keeps its
    domain without a join back to the corpus; source is constant within
    every bucket, so struct comparisons degrade to plain doc_id order) →
    capped candidate pairs → df-capped verified pairs at the per-domain
    threshold. Parameterized so composed pipelines can run the cascade
    over a FILTERED corpus stage — hot-shingle df and bucket caps are
    then computed over that stage's survivors, exactly like the Spark
    side."""
    return f"""dsh AS (
        SELECT doc_id, source, {_SH_DUCK} AS shingles
        FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM {src})
    ),
    dsig AS (
        SELECT doc_id, source, {', '.join(_minhash_sql_exprs())}
        FROM dsh
    ),
    dbands AS (
        {' UNION ALL '.join(
            f"SELECT {{'source': source, 'doc_id': doc_id}} AS mem, "
            f"source, {j} AS band_id, {_band_hash_sql(j)} AS band_hash "
            f"FROM dsig"
            for j in range(BANDS)
        )}
    ),
    {capped_pair_ctes_sql('dd_', 'dbands',
                          ['source', 'band_id', 'band_hash'], 'mem')},
    dcand AS (
        SELECT DISTINCT p.a.source AS source,
               p.a.doc_id AS doc1, p.b.doc_id AS doc2
        FROM dd_pairs
    ),
    {_kept_ctes_sql("d")},
    dver AS (
        SELECT c.source, c.doc1, c.doc2
        FROM dcand c
        JOIN dshk s1 ON s1.doc_id = c.doc1
        JOIN dshk s2 ON s2.doc_id = c.doc2
        WHERE 1000000 * len(list_intersect(s1.kept, s2.kept)) >=
              {_domain_thr_ppm_sql('c.source')} *
              (s1.n_sh + s2.n_sh - len(list_intersect(s1.kept, s2.kept)))
    )"""


def domain_dedup_edges(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Spark side of the per-domain cascade over ``docs`` (doc_id,
    source, text): returns ``(cand, ver)`` — the distinct LSH candidate
    pairs and the threshold-verified near-dup pairs, both as (source,
    doc1, doc2). Mirrors :func:`domain_dedup_ctes_sql` stage for stage;
    candidate pairs feed two consumers downstream, so the expansion
    boundary is checkpointed."""
    sh = (
        docs.select("doc_id", "source", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", "source", F.expr(_SH_SPARK).alias("shingles"))
        .localCheckpoint(eager=False)
    )
    sig = (
        _with_xs(sh)
        .select(
            F.struct(F.col("source"), F.col("doc_id")).alias("mem"),
            "source",
            *_minhash_cols(),
        )
        .localCheckpoint(eager=False)
    )
    bands = sig.select("mem", "source", F.explode(_band_structs()).alias("b")).select(
        "mem",
        "source",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_hash").alias("band_hash"),
    )
    cand = (
        capped_bucket_pairs(
            bands, ["source", "band_id", "band_hash"], member_col="mem"
        )
        .select(
            F.col("p.a.source").alias("source"),
            F.col("p.a.doc_id").alias("doc1"),
            F.col("p.b.doc_id").alias("doc2"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    joined, n_common = _with_kept_sets(cand, sh)
    ver = joined.filter(
        F.lit(1_000_000).cast("long") * n_common
        >= _domain_thr_ppm_spark(F.col("source"))
        * (F.col("n1") + F.col("n2") - n_common)
    ).select("source", "doc1", "doc2")
    return cand, ver


@query(
    "q_domain_dedup_cascade",
    sql=f"""
    WITH {domain_dedup_ctes_sql('documents')},
    dbase AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    dcandcnt AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cand_pairs
        FROM dcand GROUP BY 1
    ),
    dvercnt AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
               CAST(COUNT(DISTINCT doc2) AS BIGINT) AS n_dropped
        FROM dver GROUP BY 1
    )
    SELECT b.source,
           {_domain_thr_ppm_sql('b.source')} AS thr_ppm,
           b.n_docs,
           CAST(COALESCE(c.n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
           CAST(COALESCE(v.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(v.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(b.n_docs - COALESCE(v.n_dropped, 0) AS BIGINT) AS n_kept
    FROM dbase b
    LEFT JOIN dcandcnt c USING (source)
    LEFT JOIN dvercnt v USING (source)
    """,
)
def q_domain_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain MinHash-LSH dedup census with per-domain thresholds.

    The production web-crawl dedup shape: near-dup detection runs
    WITHIN each domain (cross-domain near-dups are rare and cheap to
    mop up with the global pass, while within-domain template pages are
    the bulk of the dup mass), and each domain carries its own Jaccard
    threshold. Adding ``source`` to the LSH band key delivers the
    domain partitioning for free — the one candidate-generation shuffle
    is keyed (source, band_id, band_hash), so a 1000-executor run is
    co-partitioned by domain with no extra exchange, per-domain skew is
    bounded by the same member cap as the global pass, and the member
    struct {source, doc_id} carries the domain THROUGH the capped pair
    expansion (source is constant within a bucket, so struct ordering
    degrades to doc_id order and the chain/canon semantics are
    unchanged).

    Census per source: docs, LSH candidate pairs, pairs verified at the
    source's threshold (integer-exact ppm cross-multiplication), docs
    dropped under keep-lowest-doc_id, and docs kept. Verification uses
    the engine-wide df-capped Jaccard (shared with q_dedup_minhash_lsh)
    so "near-dup" means one thing everywhere.
    """
    docs = compute_table(spark, sf_dir, "documents")
    cand, ver = domain_dedup_edges(docs)
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    candcnt = cand.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand_pairs")
    )
    vercnt = ver.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("doc2").cast("long").alias("n_dropped"),
    )
    return (
        base.join(candcnt, "source", "left")
        .join(vercnt, "source", "left")
        .select(
            "source",
            _domain_thr_ppm_spark(F.col("source")).alias("thr_ppm"),
            "n_docs",
            F.coalesce(F.col("n_cand_pairs"), F.lit(0).cast("long")).alias(
                "n_cand_pairs"
            ),
            F.coalesce(F.col("n_dup_pairs"), F.lit(0).cast("long")).alias(
                "n_dup_pairs"
            ),
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")).alias(
                "n_dropped"
            ),
            (F.col("n_docs") - F.coalesce(F.col("n_dropped"), F.lit(0).cast("long")))
            .cast("long")
            .alias("n_kept"),
        )
    )
