"""Invariant tests for the round-4 second-wave operators: segment-level
dedup, cross-corpus incremental dedup, product quantization, PageRank,
Zipf stats. (Their oracle equivalence is covered by test_oracle.py — these
pin the semantic properties an oracle can't.)"""

import math

import pytest
from pyspark.sql import functions as F

from boann_ocsf_security_data_platform_spark.operators.cache import cache_scope
from boann_ocsf_security_data_platform_spark.operators.dedup import (
    cross_corpus_jaccard_pairs,
)
from boann_ocsf_security_data_platform_spark.operators.graph import pagerank
from boann_ocsf_security_data_platform_spark.operators.similarity import (
    pq_adc_topk,
    pq_codebooks_from_seeds,
    pq_encode,
    pq_reconstruct,
)
from boann_ocsf_security_data_platform_spark.operators.text import (
    segment_dedup,
    zipf_stats,
)


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

def test_segment_dedup_keeps_first_occurrence_only(spark):
    seg_a = "a b c"
    seg_b = "d e f"
    docs = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),        # both segments first here
            (2, f"{seg_b} {seg_a}"),        # both are later copies -> empty
            (3, f"{seg_a} x y z"),          # seg_a dropped, 'x y z' kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in segment_dedup(docs, seg_words=3).collect()
    }
    assert out[1].text_deduped == f"{seg_a} {seg_b}"
    assert out[1].n_seg_kept == 2 and out[1].n_seg_total == 2
    assert out[2].text_deduped == "" and out[2].n_seg_kept == 0
    assert out[3].text_deduped == "x y z"
    assert out[3].n_seg_kept == 1 and out[3].n_seg_total == 2


def test_segment_dedup_dedups_within_document(spark):
    docs = spark.createDataFrame([(1, "p q r p q r")], ["doc_id", "text"])
    row = segment_dedup(docs, seg_words=3).collect()[0]
    assert row.text_deduped == "p q r"
    assert row.n_seg_kept == 1 and row.n_seg_total == 2


def test_segment_dedup_short_tail_segment(spark):
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    row = segment_dedup(docs, seg_words=3).collect()[0]
    # tail segment "d" is its own (first) occurrence
    assert row.text_deduped == "a b c d"
    assert row.n_seg_total == 2


# ---------------------------------------------------------------------------
# cross_corpus_jaccard_pairs
# ---------------------------------------------------------------------------

def _brute_jaccard(a_words, b_words, k=3):
    def sh(ws):
        if len(ws) >= k:
            return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
        return {" ".join(ws)}

    sa, sb = sh(a_words), sh(b_words)
    return len(sa & sb) / len(sa | sb)


def test_cross_corpus_matches_bruteforce(spark):
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "completely different content here now")],
        ["doc_id", "text"],
    )
    idx = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "unrelated index document about other things"),
         (3, "completely different content here now")],
        ["doc_id", "text"],
    )
    with cache_scope():
        got = {
            (r.new_id, r.index_id): r.jaccard
            for r in cross_corpus_jaccard_pairs(new, idx, threshold=0.3).collect()
        }
    new_rows = {r.doc_id: r.text.split() for r in new.collect()}
    idx_rows = {r.doc_id: r.text.split() for r in idx.collect()}
    want = {}
    for nid, nw in new_rows.items():
        for iid, iw in idx_rows.items():
            j = _brute_jaccard(nw, iw)
            if j >= 0.3:
                want[(nid, iid)] = round(j, 6)
    assert got == want


def test_cross_corpus_valve_is_one_sided(spark):
    # a corpus-hot shingle shared by everything: capping can only LOSE
    # pairs / lower jaccard, never raise it
    new = spark.createDataFrame(
        [(10, "common shingle words alpha beta gamma")], ["doc_id", "text"]
    )
    idx = spark.createDataFrame(
        [(i, f"common shingle words delta epsilon {i}") for i in range(5)],
        ["doc_id", "text"],
    )
    with cache_scope():
        exact = {
            (r.new_id, r.index_id): r.jaccard
            for r in cross_corpus_jaccard_pairs(new, idx, threshold=0.01).collect()
        }
        capped = {
            (r.new_id, r.index_id): r.jaccard
            for r in cross_corpus_jaccard_pairs(
                new, idx, threshold=0.01, max_shingle_df=2
            ).collect()
        }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-9


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def _tiny_vectors(spark, n=6, dim=8):
    rows = [
        (i, [float((i * 7 + d * 3) % 5) - 2.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_seed_rows_roundtrip_exactly(spark):
    emb = _tiny_vectors(spark)
    books = pq_codebooks_from_seeds(emb, m=2, k_codes=4, dim=8)
    codes = pq_encode(emb, books)
    recon = {
        r.vec_id: list(r.recon)
        for r in pq_reconstruct(codes, books).collect()
    }
    seeds = {r.vec_id: list(r.embedding) for r in emb.filter("vec_id < 4").collect()}
    for vid, vec in seeds.items():
        assert recon[vid] == pytest.approx(vec, abs=1e-12)


def test_pq_adc_equals_exact_with_lossless_codebook(spark):
    emb = _tiny_vectors(spark, n=5, dim=8)
    # codebook contains EVERY vector's subvectors -> encoding is lossless
    # and ADC distance == exact L2^2 for every (query, neighbor) pair
    books = pq_codebooks_from_seeds(emb, m=2, k_codes=5, dim=8)
    codes = pq_encode(emb, books)
    queries = emb.filter("vec_id < 2")
    adc = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_adc_topk(codes, queries, books, k=10).collect()
    }
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    for (qid, nid), d in adc.items():
        exact = sum((a - b) ** 2 for a, b in zip(vecs[qid], vecs[nid]))
        assert d == pytest.approx(exact, abs=1e-6)
    # and the top-k is complete: every non-self pair for each query
    assert len(adc) == 2 * 4


def test_pq_codes_in_range(spark, sf_smoke):
    from boann_ocsf_security_data_platform_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    books = pq_codebooks_from_seeds(emb, m=4, k_codes=4, dim=64)
    codes = pq_encode(emb, books)
    agg = codes.agg(
        *[F.min(f"code_{s}").alias(f"mn{s}") for s in range(4)],
        *[F.max(f"code_{s}").alias(f"mx{s}") for s in range(4)],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg.n == emb.count()
    for s in range(4):
        assert 0 <= agg[f"mn{s}"] and agg[f"mx{s}"] <= 3


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def test_pagerank_mass_conserved_and_dangling_handled(spark):
    # a -> b, b dangling: total rank mass must stay 1 every round
    edges = spark.createDataFrame([(1, 2, 1.0)], ["src", "dst", "w"])
    out = {r.node: r.pagerank for r in pagerank(edges, weight_col="w").collect()}
    assert set(out) == {1, 2}
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-6)
    assert out[2] > out[1]  # b receives a's mass plus shares the dangling pot


def test_pagerank_uniform_on_cycle(spark):
    # symmetric cycle: stationary distribution is uniform at every round
    n = 4
    edges = spark.createDataFrame(
        [(i, (i + 1) % n, 1.0) for i in range(n)], ["src", "dst", "w"]
    )
    out = [r.pagerank for r in pagerank(edges, weight_col="w").collect()]
    assert len(out) == n
    for r in out:
        assert r == pytest.approx(1.0 / n, abs=1e-6)


def test_pagerank_star_center_dominates(spark):
    edges = spark.createDataFrame(
        [(i, 0, 1.0) for i in range(1, 6)], ["src", "dst", "w"]
    )
    out = {r.node: r.pagerank for r in pagerank(edges, weight_col="w").collect()}
    assert out[0] == max(out.values())
    leaves = [v for k, v in out.items() if k != 0]
    assert max(leaves) - min(leaves) < 1e-9


# ---------------------------------------------------------------------------
# zipf_stats
# ---------------------------------------------------------------------------

def test_zipf_stats_on_synthetic_powerlaw(spark):
    # term t_i appears ~ 64 / 2^i times -> ln f vs ln rank is linear-ish
    rows = []
    doc = []
    for i, freq in enumerate([64, 32, 16, 8, 4, 2, 1]):
        doc.extend([f"t{i}"] * freq)
    rows.append((1, " ".join(doc)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    row = zipf_stats(df, top_n=100).collect()[0]
    assert row.n_terms == 7
    assert row.zipf_slope < 0
    assert 0.0 < row.zipf_r2 <= 1.0
    # halving sequence: slope of ln f on ln rank is steeper than -1
    assert row.zipf_slope < -1.0


def test_zipf_stats_top_n_bounds_ranking(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c d e f g")], ["doc_id", "text"]
    )
    row = zipf_stats(df, top_n=3).collect()[0]
    assert row.n_terms == 3


# ---------------------------------------------------------------------------
# new container sniffers (WebP / FLAC / OGG / MP3) — crafted byte payloads
# ---------------------------------------------------------------------------

def _flac_bytes(rate=44100, channels=2, bits=16, total=44100 * 3):
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    streaminfo = (
        (576).to_bytes(2, "big") * 2          # min/max block size
        + (0).to_bytes(3, "big") * 2          # min/max frame size
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                        # md5 of raw samples
    )
    return b"fLaC" + b"\x00" + len(streaminfo).to_bytes(3, "big") + streaminfo


def _ogg_vorbis_bytes(channels=2, rate=22050):
    packet = (
        b"\x01vorbis" + (0).to_bytes(4, "little")
        + bytes([channels]) + rate.to_bytes(4, "little") + b"\x00" * 12
    )
    page = (
        b"OggS" + b"\x00" * 22 + bytes([1]) + bytes([len(packet)]) + packet
    )
    return page


def _mp3_bytes(rate_idx=0, mono=False, id3=False):
    hdr = bytes([0xFF, 0xFB, 0x90 | (rate_idx << 2), 0xC0 if mono else 0x00])
    frame = hdr + b"\x00" * 100
    if id3:
        return b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + frame
    return frame


def _webp_vp8x_bytes(w=320, h=240):
    chunk = b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 4 \
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_sniff_audio_meta_dispatches_all_formats(spark):
    rows = [
        (1, bytearray(_flac_bytes())),
        (2, bytearray(_ogg_vorbis_bytes())),
        (3, bytearray(_mp3_bytes())),
        (4, bytearray(_mp3_bytes(rate_idx=1, mono=True, id3=True))),
        (5, bytearray(b"garbage not audio at all")),
        (6, bytearray(_flac_bytes()[:10])),   # truncated: no task failure
    ]
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        sniff_audio_meta,
    )

    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: r for r in sniff_audio_meta(df).collect()}
    assert out[1].format == "flac"
    assert (out[1].n_channels, out[1].sample_rate_hz, out[1].bits_per_sample) == (2, 44100, 16)
    assert out[1].n_frames == 44100 * 3 and out[1].duration_ms == 3000
    assert out[2].format == "ogg-vorbis"
    assert (out[2].n_channels, out[2].sample_rate_hz) == (2, 22050)
    assert out[3].format == "mp3"
    assert (out[3].n_channels, out[3].sample_rate_hz) == (2, 44100)
    assert out[4].format == "mp3"
    assert (out[4].n_channels, out[4].sample_rate_hz) == (1, 48000)
    assert out[5].format is None
    assert out[6].format is None


def test_sniff_image_meta_webp_variants(spark):
    from boann_ocsf_security_data_platform_spark.operators.multimodal import (
        _sniff_header,
        sniff_image_meta,
    )

    assert _sniff_header(_webp_vp8x_bytes(320, 240)) == ("webp", 320, 240)
    # VP8 lossy: frame tag + sync code + 14-bit dims
    vp8 = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + (12).to_bytes(4, "little")
        + b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + (640).to_bytes(2, "little") + (480).to_bytes(2, "little") + b"\x00\x00"
    )
    assert _sniff_header(vp8) == ("webp", 640, 480)
    # VP8L lossless: signature byte + packed 14-bit dims
    bits = (99) | (49 << 14)  # w-1=99, h-1=49
    vp8l = (
        b"RIFF" + (17).to_bytes(4, "little") + b"WEBP"
        + b"VP8L" + (9).to_bytes(4, "little")
        + b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 5
    )
    assert _sniff_header(vp8l) == ("webp", 100, 50)
    df = spark.createDataFrame(
        [(1, bytearray(_webp_vp8x_bytes()))], "media_id long, payload binary"
    )
    row = sniff_image_meta(df).collect()[0]
    assert (row.format, row.width, row.height) == ("webp", 320, 240)


# ---------------------------------------------------------------------------
# timeseries operators (wave 3) — hand-computed answers
# ---------------------------------------------------------------------------

def _ts_events(spark):
    from datetime import datetime

    rows = [
        # user 1: value 10 held 60s, value 20 held 30s, value 40 tail
        (1, 1, datetime(2024, 1, 1, 10, 0, 0), "view", 10.0),
        (2, 1, datetime(2024, 1, 1, 10, 1, 0), "purchase", 20.0),
        (3, 1, datetime(2024, 1, 1, 10, 1, 30), "view", 40.0),
        # user 2: single event -> no held interval
        (4, 2, datetime(2024, 1, 1, 11, 0, 0), "click", 7.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string, value double"
    )


def test_time_weighted_avg_hand_computed(spark):
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        time_weighted_avg,
    )

    out = {r.user_id: r for r in time_weighted_avg(_ts_events(spark)).collect()}
    # user 1: (10*60 + 20*30) / 90 = 1200/90 = 13.333333
    assert out[1].twa == pytest.approx(13.333333, abs=1e-6)
    assert out[1].n_intervals == 2 and out[1].total_seconds == 90
    assert out[2].twa is None and out[2].n_intervals == 0


def test_ohlc_bars_hand_computed(spark):
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        ohlc_bars,
    )

    # keyed by user here: user 1's 10:00 bar
    bars = {
        (r.user_id, r.bar_start.hour): r
        for r in ohlc_bars(_ts_events(spark), key_col="user_id").collect()
    }
    b = bars[(1, 10)]
    assert (b.open, b.close) == (10.0, 40.0)
    assert (b.high, b.low) == (40.0, 10.0)
    assert b.volume == 70.0 and b.n_events == 3


def test_locf_fill_carries_last_observation(spark):
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        locf_fill,
    )

    e = _ts_events(spark).withColumn(
        "obs", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = {r.event_id: r.filled for r in locf_fill(e, val_col="obs").collect()}
    assert out[1] is None      # before first observation
    assert out[2] == 20.0      # the observation itself
    assert out[3] == 20.0      # carried forward
    assert out[4] is None      # user 2 never observes


def test_scd2_intervals_hand_computed(spark):
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        scd2_intervals,
    )

    rows = sorted(
        scd2_intervals(_ts_events(spark)).filter("user_id = 1").collect(),
        key=lambda r: r.valid_from,
    )
    # view -> purchase -> view: three intervals, last one open
    assert [r.event_type for r in rows] == ["view", "purchase", "view"]
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].valid_to == rows[2].valid_from
    assert rows[2].valid_to is None and rows[2].is_current
    assert not rows[0].is_current and not rows[1].is_current


def test_top_k_paths_hand_computed(spark):
    from boann_ocsf_security_data_platform_spark.operators.timeseries import (
        top_k_paths,
    )
    from datetime import datetime

    rows = []
    eid = 0
    for uid in range(3):  # three users all walk a->b->c->d
        for i, step in enumerate(["a", "b", "c", "d"]):
            eid += 1
            rows.append((eid, uid, datetime(2024, 1, 1, 10, i), step, 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string, value double"
    )
    out = top_k_paths(df, k=2).collect()
    assert [(r.path, r.n_occurrences) for r in out] == [
        ("a>b>c", 3),
        ("b>c>d", 3),
    ]


def test_embedding_dim_profile_known_stats(spark):
    from boann_ocsf_security_data_platform_spark.operators.similarity import (
        embedding_dim_profile,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [3.0, 10.0])], ["vec_id", "embedding"]
    )
    out = {r.dim: r for r in embedding_dim_profile(df).collect()}
    assert out[1].mean == 2.0 and out[1].mn == 1.0 and out[1].mx == 3.0
    assert out[1].stddev == pytest.approx(2 ** 0.5, abs=1e-6)
    assert out[2].mean == 10.0 and out[2].stddev == 0.0


# ---------------------------------------------------------------------------
# BPE merge training — brute-force reference equivalence
# ---------------------------------------------------------------------------

def _bpe_reference(word_freqs, n_merges, end_marker="</w>"):
    """Plain-Python Sennrich-style BPE with the same tie-break (freq desc,
    pair lexicographic asc) and the same greedy left-to-right merge."""
    vocab = {tuple(list(w) + [end_marker]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        new_vocab = {}
        for syms, f in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_train_bpe_merges_matches_reference(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import (
        train_bpe_merges,
    )

    word_freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    corpus = " ".join(w for w, f in word_freqs.items() for _ in range(f))
    df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    got = train_bpe_merges(df, n_merges=6)
    want = _bpe_reference(word_freqs, 6)
    assert got == want
    assert len(got) == 6  # the classic corpus supports >= 6 merges


def test_bpe_segment_applies_merges(spark):
    from boann_ocsf_security_data_platform_spark.operators.text import (
        bpe_segment,
        train_bpe_merges,
    )

    word_freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    corpus = " ".join(w for w, f in word_freqs.items() for _ in range(f))
    df = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges = train_bpe_merges(df, n_merges=4)
    words = spark.createDataFrame([("newest",), ("lowest",)], ["w"])
    segged = {
        r.w: list(r.s)
        for r in words.select("w", bpe_segment("w", merges).alias("s")).collect()
    }
    # apply the same merges by hand
    def apply(word):
        syms = list(word) + ["</w>"]
        for a, b in merges:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return syms

    assert segged["newest"] == apply("newest")
    assert segged["lowest"] == apply("lowest")
