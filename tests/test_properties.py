"""Property-style checks (SURVEY §5.2.4): massage idempotence, WKT
encode/parse invariants, and hash-sampling partition-independence —
hypothesis generates the inputs, one Spark job evaluates each batch."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.geometry import (
    wkt_blank,
    wkt_colon_encode,
    wkt_parse,
    wkt_unparse,
)
from nyc_landmarks_datalake_spark.ingest.csv_ingest import massage_lines
from nyc_landmarks_datalake_spark.sources.catalog import table

_FIELD = st.text(
    alphabet=st.sampled_from("ABCdef123 ,.-\""), min_size=0, max_size=12
)
_COORD = st.tuples(
    st.floats(-180, 180, allow_nan=False), st.floats(-90, 90, allow_nan=False)
)


def _wkt(coords):
    body = ", ".join(f"{x:.6f} {y:.6f}" for x, y in coords)
    return f"MULTIPOLYGON ((({body})))"


@st.composite
def _csv_line(draw):
    fields = draw(st.lists(_FIELD, min_size=1, max_size=5))
    coords = draw(st.lists(_COORD, min_size=1, max_size=4))
    pos = draw(st.integers(0, len(fields)))
    fields.insert(pos, f'"{_wkt(coords)}"')
    return ",".join(fields)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_csv_line(), min_size=1, max_size=30))
def test_massage_idempotent(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    once = massage_lines(df).withColumnRenamed("value", "v1")
    twice = massage_lines(massage_lines(df)).withColumnRenamed("value", "v2")
    got = [
        (a["v1"], b["v2"])
        for a, b in zip(sorted(once.collect()), sorted(twice.collect()))
    ]
    for v1, v2 in got:
        assert v1 == v2


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.lists(_COORD, min_size=1, max_size=6), min_size=1, max_size=20))
def test_wkt_invariants(spark, coord_lists):
    df = spark.createDataFrame([(_wkt(c),) for c in coord_lists], ["g"])
    normalized = wkt_unparse(wkt_parse(F.col("g")))
    out = df.select(
        wkt_blank(F.col("g")).alias("blanked"),
        wkt_colon_encode(F.col("g")).alias("encoded"),
        normalized.alias("norm1"),
        wkt_unparse(wkt_parse(normalized)).alias("norm2"),
    ).collect()
    for r in out:
        # de-facto mode deletes the whole geometry (SURVEY §1.4.1)
        assert "MULTIPOLYGON" not in r["blanked"] and "(" not in r["blanked"]
        # intended colon-encoding eliminates WKT separators entirely
        assert " " not in r["encoded"] and "," not in r["encoded"]
        assert ":" in r["encoded"]
        # unparse∘parse is a normal form: applying it again is identity
        assert r["norm1"] == r["norm2"]


def test_hash_sample_partition_independent(spark, sf_small):
    from nyc_landmarks_datalake_spark.operators.sampling import q_stratified_sample

    a = sorted(r["doc_id"] for r in q_stratified_sample(spark, sf_small).collect())
    docs = table(spark, sf_small, "documents").repartition(7)
    from nyc_landmarks_datalake_spark.operators.sampling import (
        _permille,
        _rate_spark,
    )

    b = sorted(
        r["doc_id"]
        for r in docs.filter(
            _permille(F.col("doc_id").cast("string")) < _rate_spark()
        ).collect()
    )
    assert a == b


def test_ngram_jaccard_df_cap_bounds_hot_shingles(spark):
    from nyc_landmarks_datalake_spark.operators.dedup import ngram_jaccard_pairs

    # 30 docs share one hot phrase (shingle df = 30) but are otherwise
    # unrelated; two docs are true near-dups via rare shingles.
    hot = "the quick brown"
    rows = [(i, f"{hot} filler{i} alpha{i} beta{i} gamma{i}") for i in range(30)]
    rows += [
        (100, "rare shingle overlap one two three four five"),
        (101, "rare shingle overlap one two three four nine"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_df=10)
    got = {(r.doc1, r.doc2) for r in capped.collect()}
    # the hot-shingle-only cluster must contribute NO pairs (its one
    # common shingle is dropped by the cap) ...
    assert all(d1 >= 100 for d1, _ in got), got
    # ... while the rare-shingle near-dup pair survives
    assert (100, 101) in got

    # uncapped, the hot shingle expands 30*29/2 pairs (none pass the
    # threshold here, but each costs a task-side expansion) — pin that
    # the cap is what removed them, not the threshold
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, max_df=10_000)
    assert uncapped.filter("doc1 < 100").count() == 30 * 29 // 2


def test_pair_expand_both_branches_match_duckdb(spark):
    import duckdb

    from nyc_landmarks_datalake_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        pair_expand_expr,
        pair_expand_sql,
    )

    # a bucket of MAX_BAND_BUCKET members expands all pairs, one member
    # more takes the chain branch, in both engines.
    full = list(range(0, 2 * MAX_BAND_BUCKET, 2))
    over = list(range(0, 2 * MAX_BAND_BUCKET + 2, 2))
    for ids, want in [
        ([3, 7, 9], {(3, 7), (3, 9), (7, 9)}),
        (full, {(a, b) for i, a in enumerate(full) for b in full[i + 1 :]}),
        (over, set(zip(over, over[1:]))),
    ]:
        sdf = spark.createDataFrame([(ids,)], ["ids"]).selectExpr(
            f"inline({pair_expand_expr('ids')})"
        )
        got_spark = {(r.a, r.b) for r in sdf.collect()}
        odf = duckdb.sql(
            f"SELECT p.a AS a, p.b AS b FROM (SELECT unnest("
            f"{pair_expand_sql('ids')}) AS p "
            f"FROM (SELECT {ids} AS ids))"
        ).fetchall()
        assert got_spark == want
        assert set(odf) == want


def test_minhash_mega_bucket_chains_not_squares(spark):
    """A degenerate band bucket (identical template docs beyond
    MAX_BAND_BUCKET) must expand O(n) chain pairs, never O(n^2); its
    all-hot shingles fail the df-capped verification (exact dedup owns
    identical copies — see test_mega_group_cluster_recovery), while a
    small dup group still verifies."""
    from nyc_landmarks_datalake_spark.operators import dedup

    n = dedup.MAX_BAND_BUCKET + 20
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text) for i in range(n)]
    rows += [
        (1000, "rare overlap one two three four five"),
        (1001, "rare overlap one two three four five"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingled(docs, materialize=True)
    sig = dedup._with_xs(sh).select("doc_id", *dedup._minhash_cols())
    cand = {(r.doc1, r.doc2) for r in dedup._lsh_candidate_pairs(sig).collect()}
    mega_cand = {(a, b) for a, b in cand if a < 1000}
    assert mega_cand == {(i, i + 1) for i in range(n - 1)}
    assert (1000, 1001) in cand
    verified = {
        (r.doc1, r.doc2) for r in dedup.lsh_verified_pairs(sh).collect()
    }
    # every shingle of the mega group has df = n > MAX_SHINGLE_DF, so
    # the shared capped-Jaccard definition scores those pairs 0
    assert all(a >= 1000 for a, _ in verified), verified
    assert (1000, 1001) in verified


def test_capped_bucket_pairs_never_collects_oversized_buckets(spark):
    """The membership cap, not just the pair cap: an oversized bucket
    must take the row_number/self-join chain path — no aggregation
    buffer (collect_list) may ever hold more than MAX_BAND_BUCKET
    members. Pinned at the plan level: every collect_list aggregate
    sits downstream of the __n <= cap filter."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        capped_bucket_pairs,
    )

    n = MAX_BAND_BUCKET + 50
    members = spark.createDataFrame(
        [(1, i) for i in range(n)] + [(2, 1000), (2, 1001), (2, 1002)],
        ["bucket", "doc_id"],
    )
    pairs = capped_bucket_pairs(members, ["bucket"], member_col="doc_id")
    got = {(r["p"]["a"], r["p"]["b"]) for r in pairs.collect()}
    # mega bucket: n-1 chain pairs, small bucket: all 3 pairs
    want = {(i, i + 1) for i in range(n - 1)} | {
        (1000, 1001),
        (1000, 1002),
        (1001, 1002),
    }
    assert got == want
    # plan pin: the optimized plan's collect_list input is the
    # cap-filtered branch (small buckets only); the chain branch has no
    # collect at all
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("collect_list") > 0
    assert f"(__n#" in plan or "__n" in plan  # cap filter present
    # count the pair explosion is bounded: total pairs linear in n here
    assert len(got) == (n - 1) + 3


def test_simhash_and_embedding_chains_sort_by_similarity_key(spark):
    """Mega-bucket chains order by the similarity key (simhash value /
    embedding), not doc id, so adjacent chain members are likely to pass
    verification. Construct a bucket whose two dup subgroups interleave
    by id: an id-ordered chain would alternate between groups and lose
    every edge to the hamming filter; the key-ordered chain keeps each
    subgroup contiguous."""
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark.operators.dedup import (
        capped_bucket_pairs,
    )

    # two value-groups (sim=0 and sim=высокий hamming distance), ids
    # interleaved; cap=4 forces the chain path on the 8-member bucket
    rows = []
    for i in range(8):
        sim = 0 if i % 2 == 0 else (1 << 40) - 1  # hamming 40 apart
        rows.append((7, i, sim))
    members = spark.createDataFrame(rows, ["bucket", "doc_id", "simhash"]).select(
        "bucket", F.struct("doc_id", "simhash").alias("m")
    )
    pairs = capped_bucket_pairs(
        members, ["bucket"], member_col="m", key_col="m.simhash", cap=4
    )
    got = [
        (r["p"]["a"]["simhash"], r["p"]["b"]["simhash"]) for r in pairs.collect()
    ]
    # 7 chain edges; exactly ONE straddles the two value-groups — the
    # other 6 connect equal signatures (hamming 0) and survive a
    # hamming<=3 verification, keeping both subgroups internally
    # connected. An id-ordered chain would make all 7 edges straddle.
    straddles = sum(1 for a, b in got if a != b)
    assert len(got) == 7
    assert straddles == 1, got


def test_mega_group_cluster_recovery_via_exact_edges(spark):
    """ADVICE r3: a byte-identical template group larger than
    MAX_SHINGLE_DF gets ZERO LSH-verified pairs (df-capped Jaccard = 0
    on all-hot shingles), so clustering must recover it from the
    exact-dedup star edges — the unioned pipeline recovers the full
    group as ONE cluster with the min id canonical."""
    from nyc_landmarks_datalake_spark.operators import dedup
    from nyc_landmarks_datalake_spark.operators.graph import (
        connected_components,
    )

    n = dedup.MAX_SHINGLE_DF + 30
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text) for i in range(n)]
    rows += [
        (1000, "rare overlap one two three four five"),
        (1001, "rare overlap one two three four five"),
        (2000, "совершенно unrelated standalone document text here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingled(docs, materialize=True)
    lsh = dedup.lsh_verified_pairs(sh).select("doc1", "doc2")
    exact = dedup.exact_dup_edges(docs)
    clusters = connected_components(
        lsh.unionByName(exact), algorithm="auto"
    ).collect()
    by_doc = {r.doc_id: r.cluster_id for r in clusters}
    # the whole template group is one cluster rooted at doc 0
    for i in range(n):
        assert by_doc[i] == 0, (i, by_doc.get(i))
    # the small dup pair clusters to its min id
    assert by_doc[1000] == 1000 and by_doc[1001] == 1000
    # the unrelated doc has no edges and is absent from the label table
    assert 2000 not in by_doc


def test_chain_component_converges_with_jump(spark):
    """Chain fallback produces long-diameter components; pointer
    jumping must label a >MAX_ITERS-long chain within the budget."""
    import warnings

    from nyc_landmarks_datalake_spark.operators.graph import (
        connected_components,
    )

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc1", "doc2"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warns → fail
        labels = connected_components(pairs, algorithm="jump")
        rows = labels.collect()
    assert len(rows) == n
    assert all(r.cluster_id == 0 for r in rows)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(1, 9),
    st.integers(1, 9),
    st.sampled_from([1, 3]),
    st.integers(1, 255),
    st.booleans(),
    st.data(),
)
def test_netpbm_roundtrip_property(w, h, channels, maxval, with_comment, data):
    """encode(header)+raster → decode_netpbm recovers dims and bytes for
    any size/maxval/comment placement; values above maxval can't occur
    in a valid file, so raster bytes draw from [0, maxval]."""
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import decode_netpbm

    n = w * h * channels
    raster = bytes(
        data.draw(st.lists(st.integers(0, maxval), min_size=n, max_size=n))
    )
    magic = b"P6" if channels == 3 else b"P5"
    comment = b"# c o m m e n t\n" if with_comment else b""
    payload = magic + b"\n" + comment + f"{w} {h}\n{maxval}\n".encode() + raster
    gw, gh, gc, px = decode_netpbm(payload)
    assert (gw, gh, gc) == (w, h, channels)
    assert px.shape == (h, w, channels) and px.dtype == np.uint8
    assert bytes(px.reshape(-1)) == raster


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 999)),  # (bucket, member)
        min_size=2,
        max_size=60,
        unique=True,
    ),
    st.integers(2, 6),
)
def test_capped_bucket_pairs_property(spark, members, cap):
    """For ANY bucket membership and cap: small buckets emit exactly
    their sorted all-pairs, oversized buckets emit exactly a
    member-sorted chain (b-1 edges, connected), and every emitted pair
    is canonical (a < b)."""
    from collections import defaultdict

    from nyc_landmarks_datalake_spark.operators.dedup import capped_bucket_pairs

    df = spark.createDataFrame(members, ["bucket", "m"])
    got = defaultdict(list)
    for r in capped_bucket_pairs(df, ["bucket"], cap=cap).collect():
        pass_through = (r["p"]["a"], r["p"]["b"])
        got["all"].append(pass_through)
    by_bucket = defaultdict(list)
    for b, m in members:
        by_bucket[b].append(m)
    expected = []
    for b, ms in by_bucket.items():
        ms = sorted(ms)
        if len(ms) < 2:
            continue
        if len(ms) <= cap:
            expected.extend(
                (ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms))
            )
        else:
            expected.extend((ms[i], ms[i + 1]) for i in range(len(ms) - 1))
    assert sorted(got["all"]) == sorted(expected)
    assert all(a < b for a, b in got["all"])


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.sampled_from([1, 2, 3, 4]),
    st.data(),
)
def test_png_roundtrip_property(w, h, channels, data):
    """decode_png(encode_png(img, filters)) == img for ANY dims, channel
    count, pixel content and per-row filter assignment — covers every
    unfilter branch against every shape, including the bpp-edge columns
    (x < bpp) where left/upleft are zero."""
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    n = w * h * channels
    flat = data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    img = np.array(flat, dtype=np.uint8).reshape(h, w, channels)
    gw, gh, gc, got = decode_png(encode_png(img, filters=filters))
    assert (gw, gh, gc) == (w, h, channels)
    assert got.dtype == np.uint8 and (got == img).all()


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(2, 8), st.data())
def test_lzw_roundtrip_property(min_code_size, data):
    """_lzw_decode inverts a reference growing-dictionary compressor
    for ANY alphabet size and content — including repetitive inputs
    that force KwKwK codes and code-width bumps."""
    from nyc_landmarks_datalake_spark.operators.multimodal import _lzw_decode
    from tests.test_multimodal import _lzw_compress

    alphabet = 1 << min_code_size
    n = data.draw(st.integers(1, 600))
    if data.draw(st.booleans()):  # repetitive variant
        run = bytes(data.draw(st.lists(
            st.integers(0, alphabet - 1), min_size=1, max_size=8)))
        raw = (run * (n // len(run) + 1))[:n]
    else:
        raw = bytes(data.draw(st.lists(
            st.integers(0, alphabet - 1), min_size=n, max_size=n)))
    comp = _lzw_compress(min_code_size, raw)
    assert _lzw_decode(min_code_size, comp, len(raw)) == raw


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(1, 20),
    st.integers(1, 20),
    st.sampled_from([1, 3]),
    st.booleans(),
    st.data(),
)
def test_jpeg_roundtrip_property(w, h, channels, sub, data):
    """decode(encode(img)) stays within the documented error envelope
    for ANY dims (incl. non-multiple-of-8 MCU padding), channel count,
    pixel content and subsampling choice at q=1."""
    import numpy as np

    from nyc_landmarks_datalake_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    n = w * h * channels
    flat = data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    img = np.array(flat, dtype=np.uint8).reshape(h, w, channels)
    subsampling = "4:2:0" if (sub and channels == 3) else "4:4:4"
    gw, gh, gc, out = decode_jpeg(encode_jpeg(img, subsampling=subsampling))
    assert (gw, gh, gc) == (w, h, channels)
    if subsampling == "4:4:4":
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4
    else:  # chroma is 2x2-averaged; luma must survive where linear
        # Recomputed-from-RGB luma equals decoded Y EXACTLY for pixels
        # whose YCbCr→RGB reconstruction stayed in gamut (the standard
        # coefficients cancel the chroma terms), so the tight bound
        # only holds off the 0/255 rails: a clipped channel is a
        # NONLINEAR distortion of luma, and adversarial chroma noise
        # can push it past any fixed bound (hypothesis found 29.35).
        y = lambda a: (
            0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
        )
        unclipped = ((out > 0) & (out < 255)).all(axis=-1)
        if unclipped.any():
            assert np.abs(y(out) - y(img))[unclipped].max() <= 16
