"""Property-based tests (hypothesis): randomized inputs against pure-Python
reference implementations for the engine-portable primitives — the
invariants the DuckDB oracles can't reach (arbitrary text, not just the
fixture corpus)."""

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# latin-1 text incl. control chars, whitespace runs, punctuation — capped
# below the codepoints where Java and Python toLowerCase() diverge (e.g.
# dotted İ), which would falsify the PYTHON reference, not the engine
TEXTS = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0xFF),
        max_size=80,
    ),
    min_size=1,
    max_size=12,
)


def _py_hash64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@SET
@given(texts=st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=10))
def test_hash64_matches_python_md5(spark, texts):
    """The engine-portable 60-bit hash is bit-identical to the Python
    definition for arbitrary strings — the contract every MinHash/SimHash/
    LSH oracle rests on."""
    from boann_ocsf_security_data_platform_spark.functions.hash_fns import hash64

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {r.s: r.h for r in df.select("s", hash64(F.col("s")).alias("h")).collect()}
    for t in texts:
        assert got[t] == _py_hash64(t)


def _py_norm(s: str) -> str:
    """Python replica of functions.hash_fns.normalize_text with JAVA
    whitespace semantics: Spark's regex \\s is [ \\t\\n\\x0b\\f\\r], while
    Python's str.strip() also eats control chars like \\x1f — so the
    reference must use the Java class explicitly."""
    import re

    ws = r"[ \t\n\x0b\f\r]"
    collapsed = re.sub(ws + "+", " ", s.lower())
    return re.sub(f"^{ws}+|{ws}+$", "", collapsed)


@SET
@given(texts=TEXTS)
def test_exact_dedup_matches_reference(spark, texts):
    """exact_dedup == a dict-based reference dedup on normalized text for
    arbitrary corpora: one keeper (min id) per distinct content, copy
    counts sum to corpus size."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.content_hash: (r.keep_id, r.n_copies)
        for r in exact_dedup(df).collect()
    }
    ref: dict = {}
    for i, t in enumerate(texts):
        h = hashlib.md5(_py_norm(t).encode()).hexdigest()
        keep, n = ref.get(h, (i, 0))
        ref[h] = (min(keep, i), n + 1)
    assert got == ref
    assert sum(n for _, n in got.values()) == len(texts)


@SET
@given(texts=TEXTS, dup_idx=st.integers(min_value=0, max_value=11))
def test_identical_docs_always_lsh_candidates(spark, texts, dup_idx):
    """An exact duplicate pair MUST survive MinHash-LSH candidate
    generation (identical shingle sets → identical signatures → every band
    collides): recall 1.0 on true duplicates, for arbitrary text."""
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from boann_ocsf_security_data_platform_spark.operators import cache_scope

    base = texts[dup_idx % len(texts)]
    if not base.strip():
        base = "fallback duplicate text"
    rows = [(i, t if t.strip() else f"doc {i}") for i, t in enumerate(texts)]
    a_id, b_id = 1000, 1001
    rows += [(a_id, base), (b_id, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with cache_scope():
        pairs = minhash_near_dup_pairs(df)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (a_id, b_id) in got


@SET
@given(
    n_tokens=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    ctx=st.integers(min_value=1, max_value=16),
)
def test_pack_sequences_reconstructs_prefix_sums(spark, n_tokens, ctx):
    """pack_id/pack_offset always decompose the exclusive prefix sum:
    pack_id*ctx + offset == sum of tokens before the row, for any token
    distribution and context length."""
    from boann_ocsf_security_data_platform_spark.operators.text import pack_sequences

    rows = [(i, " ".join(["w"] * n), "s") for i, n in enumerate(n_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sorted(pack_sequences(df, ctx_len=ctx).collect(), key=lambda r: r.doc_id)
    cum = 0
    for r, n in zip(out, n_tokens):
        assert r.n_tokens == n
        assert r.pack_id * ctx + r.pack_offset == cum
        assert 0 <= r.pack_offset < ctx
        cum += n


@SET
@given(ids=st.sets(st.integers(min_value=0, max_value=10_000), min_size=2, max_size=40))
def test_deterministic_shuffle_is_stable_permutation(spark, ids):
    """For any id set: the shuffle is a permutation, reproducible, and
    matches the Python definition of the ordering key."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = [r.doc_id for r in deterministic_shuffle(df, seed="e1").collect()]
    want = sorted(ids, key=lambda i: hashlib.md5(f"e1{i}".encode()).hexdigest())
    assert got == want


@SET
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=12,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_pagerank_matches_python_reference(spark, edges):
    """PageRank over random small graphs is value-identical to a plain-
    Python replica of the same fixed-round recurrence (damping, dangling
    redistribution, per-round rounding) — the determinism contract the
    DuckDB oracle relies on, here exercised beyond the fixture graph."""
    from boann_ocsf_security_data_platform_spark.operators.graph import pagerank

    edges = [(a, b) for a, b in edges if a != b]
    # python reference
    w = {}
    for a, b in edges:
        w[(a, b)] = w.get((a, b), 0.0) + 1.0
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    outw = {}
    for (a, _), wt in w.items():
        outw[a] = outw.get(a, 0.0) + wt
    d = 0.85
    r = {v: round(1.0 / n, 8) for v in nodes}
    for _ in range(3):
        dang = sum(r[v] for v in nodes if v not in outw)
        contrib = {}
        for (a, b), wt in w.items():
            contrib[b] = contrib.get(b, 0.0) + r[a] * wt / outw[a]
        r = {
            v: round((1 - d) / n + d * (contrib.get(v, 0.0) + dang / n), 8)
            for v in nodes
        }
    df = spark.createDataFrame(
        [(a, b, wt) for (a, b), wt in w.items()], ["src", "dst", "w"]
    )
    got = {
        row.node: row.pagerank
        for row in pagerank(df, weight_col="w").collect()
    }
    assert set(got) == set(r)
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-7)


@SET
@given(texts=TEXTS)
def test_segment_dedup_matches_python_reference(spark, texts):
    """segment_dedup over arbitrary text equals the obvious Python loop:
    global first-occurrence survival in (doc_id, seg_idx) order and ordered
    reassembly."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        segment_dedup,
    )

    sw = 3
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.text_deduped, r.n_seg_kept, r.n_seg_total)
        for r in segment_dedup(df, seg_words=sw).collect()
    }
    import re

    ws = r"[ \t\n\x0b\f\r]"

    def norm_words(s):
        collapsed = re.sub(ws + "+", " ", s.lower())
        stripped = re.sub(f"^{ws}+|{ws}+$", "", collapsed)
        return [t for t in stripped.split(" ") if t]

    seen = {}
    segs_by_doc = {}
    for did, text in docs:
        words = norm_words(text)
        segs = [
            (i // sw + 1, " ".join(words[i : i + sw]))
            for i in range(0, len(words), sw)
        ]
        segs_by_doc[did] = segs
        for idx, seg in segs:
            if seg not in seen:
                seen[seg] = (did, idx)
    for did, text in docs:
        words = norm_words(text)
        kept = [
            seg
            for idx, seg in segs_by_doc[did]
            if seen[seg] == (did, idx)
        ]
        n_total = -(-len(words) // sw)
        assert got[did] == (" ".join(kept), len(kept), n_total)


@SET
@given(
    word_ids=st.lists(
        st.integers(min_value=0, max_value=30), min_size=5, max_size=120
    ),
    frac=st.sampled_from([0.05, 0.1, 0.2]),
)
def test_heavy_hitters_equal_groupby_on_random_streams(spark, word_ids, frac):
    """Misra-Gries candidates + exact recount == full GROUP BY/HAVING for
    arbitrary token streams and thresholds (capacity derived from the
    threshold, multiple partitions forcing summary merges)."""
    from boann_ocsf_security_data_platform_spark.operators.text import (
        heavy_hitter_tokens,
        tokens,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{w}" for w in word_ids[i::3])) for i in range(3)],
        "doc_id int, text string",
    ).repartition(3)
    got = {
        (r.token, r.freq)
        for r in heavy_hitter_tokens(docs, min_count_frac=frac).collect()
    }
    toks = docs.select(F.explode(tokens("text")).alias("t"))
    total = toks.count()
    want = {
        (r.t, r.c)
        for r in toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > int(total * frac))
        .collect()
    }
    assert got == want


@SET
@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=200), min_size=2, max_size=4
    ),
    alpha=st.sampled_from([0.3, 0.5, 0.7, 1.0]),
)
def test_temperature_sample_invariants(spark, sizes, alpha):
    """For any strata sizes and alpha: no stratum is upsampled, the
    smallest-share-boost stratum (argmin n^(1-alpha)... i.e. the binding
    stratum of T_max) is kept in full, and the output is deterministic."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        temperature_sample,
    )

    rows, i = [], 0
    for s_idx, n in enumerate(sizes):
        for _ in range(n):
            rows.append((i, f"lang{s_idx}"))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", alpha=alpha)
    kept = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    orig = {f"lang{j}": n for j, n in enumerate(sizes)}
    for lang, n in kept.items():
        assert n <= orig[lang]  # never upsampled
    # the T_max-binding stratum (min n/share ∝ n^(1-alpha)) keeps ~100%:
    # its derived fraction is exactly 1.0
    binding = min(orig, key=lambda k: orig[k] ** (1.0 - alpha))
    assert kept.get(binding, 0) == orig[binding]
    again = {
        r.lang: r.n
        for r in temperature_sample(df, "lang", alpha=alpha)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert again == kept


@SET
@given(
    vals=st.lists(
        st.floats(
            min_value=-1000, max_value=1000,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=3,
        max_size=20,
    ),
    k=st.floats(min_value=0.0, max_value=2.0),
)
def test_cusum_closed_form_property(spark, vals, k):
    """For ANY value series and drift k, the windowed closed form
    P_t - min(P_0..P_t) equals the textbook recursion
    max(0, S_{t-1} + z_t - k), both sides."""
    import math

    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        cusum_changepoints,
    )

    mu = sum(vals) / len(vals)
    var = sum((v - mu) ** 2 for v in vals) / (len(vals) - 1)
    if var <= 1e-12:
        return  # degenerate: sigma 0 -> NULL z, nothing to compare
    sd = math.sqrt(var)
    rows = [
        (i, f"2024-01-{i + 1:02d}T00:00:01", float(v))
        for i, v in enumerate(vals[:27])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, value double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "value")
    got = {
        r.d.day: r for r in cusum_changepoints(df, drift_k=k).collect()
    }
    sp = sn = 0.0
    for i, v in enumerate(vals[:27]):
        z = (v - mu) / sd
        sp = max(0.0, sp + z - k)
        sn = max(0.0, sn - z - k)
        assert abs(got[i + 1].cusum_pos - sp) < 1e-3
        assert abs(got[i + 1].cusum_neg - sn) < 1e-3


@SET
@given(
    a=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=25),
)
def test_ks_statistic_bounds_and_symmetry(spark, a, b):
    """0 <= D <= 1 for any samples; D == 0 iff the multisets' ECDFs
    coincide; swapping the groups leaves D unchanged."""
    from boann_ocsf_security_data_platform_spark.operators.relational import (
        ks_statistic,
    )

    rows = [(float(v), "a") for v in a] + [(float(v), "b") for v in b]
    df = spark.createDataFrame(rows, "v double, g string")
    d1 = ks_statistic(df, "v", "g", "a", "b").collect()[0]
    d2 = ks_statistic(df, "v", "g", "b", "a").collect()[0]
    assert 0.0 <= d1.ks_stat <= 1.0
    assert d1.ks_stat == d2.ks_stat
    import collections

    na, nb = len(a), len(b)
    ca, cb = collections.Counter(a), collections.Counter(b)
    same_ecdf = all(
        abs(ca[v] / na - cb[v] / nb) < 1e-12 for v in set(a) | set(b)
    )
    assert (d1.ks_stat == 0.0) == same_ecdf


@SET
@given(texts=TEXTS)
def test_weighted_jaccard_bounds_and_exact_dup(spark, texts):
    """0 < wjaccard <= 1 on every emitted pair, and an exact duplicate
    document always scores 1.0 (identical shingle sets => I = W_A = W_B)
    — for arbitrary text, which the fixture-corpus oracle can't reach."""
    from boann_ocsf_security_data_platform_spark.operators import cache_scope
    from boann_ocsf_security_data_platform_spark.operators.dedup import (
        weighted_jaccard_pairs,
    )

    rows = [(i, t, "s") for i, t in enumerate(texts)]
    # guaranteed exact duplicate pair with >= k tokens
    dup = "alpha beta gamma delta epsilon"
    rows += [(1000, dup, "s"), (1001, dup, "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with cache_scope():
        got = {
            (r.id_a, r.id_b): r.wjaccard
            for r in weighted_jaccard_pairs(df, threshold=0.0).collect()
        }
    assert got[(1000, 1001)] == 1.0
    assert all(0.0 < v <= 1.0 for v in got.values())


@SET
@given(
    toks=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=30),
    seq_len=st.sampled_from([64, 2048]),
)
def test_sequence_packing_conserves_tokens(spark, toks, seq_len):
    """Concat-and-chunk must conserve tokens: per-chunk overlaps sum to
    the corpus token total, every chunk except the last is exactly full,
    and chunk ids are contiguous from 0."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(toks)], "doc_id long, n_tok long"
    ).withColumn("source", F.lit("s"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    pos = df.select(
        "source", "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("s"),
    ).withColumn("e", F.col("s") + F.col("n_tok"))
    spans = pos.select(
        "source", "s", "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / seq_len),
                F.floor((F.col("e") - 1) / seq_len),
            )
        ).alias("chunk"),
    )
    per = (
        spans.select(
            "chunk",
            (
                F.least(F.col("e"), (F.col("chunk") + 1) * seq_len)
                - F.greatest(F.col("s"), F.col("chunk") * seq_len)
            ).alias("overlap"),
        )
        .groupBy("chunk")
        .agg(F.sum("overlap").alias("n_tokens"))
        .collect()
    )
    total = sum(toks)
    by_chunk = {r.chunk: r.n_tokens for r in per}
    assert sum(by_chunk.values()) == total
    n_chunks = (total + seq_len - 1) // seq_len
    assert sorted(by_chunk) == list(range(n_chunks))
    for c in range(n_chunks - 1):
        assert by_chunk[c] == seq_len
    assert by_chunk[n_chunks - 1] == total - (n_chunks - 1) * seq_len


@SET
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=25,
    )
)
def test_ewma_fir_matches_python_reference(spark, vals):
    """The windowed FIR EWMA equals a direct Python computation of the
    truncated renormalized weights for arbitrary series."""
    import __spark_entry__ as entrymod
    import tempfile

    rows = [
        (i, f"2024-01-01T00:00:{i:02d}", 1, "e", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = entrymod.queries()["events_ewma_snapshot"](spark, tmp).collect()
    assert len(got) == 1
    tail = vals[-20:]
    n = len(tail)
    ws = [0.3 * 0.7 ** (n - 1 - i) for i in range(n)]
    expected = round(
        sum(w * v for w, v in zip(ws, tail)) / sum(ws), 6
    )
    assert abs(got[0].ewma - expected) < 1e-9


@SET
@given(blob=st.binary(min_size=0, max_size=200))
def test_byte_parsers_never_raise_on_garbage(blob):
    """Every container parser (image sniff, PNG CRC walk, audio chunk
    walk, MP4 box walk) must treat arbitrary bytes as data, not errors:
    None/Nones out, never an exception — at 100 TB a poison payload that
    kills an executor task kills the job. Includes blobs that START like
    a valid container then truncate."""
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        _parse_png,
        _sniff_audio,
        _sniff_header,
        _sniff_mp4,
    )

    prefixes = [
        b"",
        b"\x89PNG\r\n\x1a\n",
        b"RIFF\x10\x00\x00\x00WAVE",
        b"\x00\x00\x00\x10ftypisom",
        b"\xff\xd8\xff",
        b"GIF89a",
    ]
    for p in prefixes:
        data = p + blob
        _sniff_header(data)
        _parse_png(data)
        _sniff_audio(data)
        _sniff_mp4(data)
