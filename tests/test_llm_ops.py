"""Dedup / similarity / text / multimodal operator semantics."""

import pytest
from pyspark.sql import functions as F

from eventstore_spark.operators import dedup as dd
from eventstore_spark.operators import multimodal as mm
from eventstore_spark.operators import similarity as sim
from eventstore_spark.operators.textops import analyze_documents, quality_filter


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),  # exact dup of 1
        (3, base.replace("quick", "slow"), "en", "s", len(base)),  # near dup
        (4, "completely different text about spark query engines and columnar storage formats", "en", "s", 80),
        (5, "der hund und die katze sind nicht mit der maus", "de", "s", 47),
        (6, "  The   quick brown fox jumps over the lazy dog and runs far away home ", "en", "s", 70),  # dup modulo whitespace/case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_normalized(docs):
    marked = {r.doc_id: r for r in dd.exact_duplicates(docs).collect()}
    assert marked[2].is_duplicate and marked[2].canonical_id == 1
    assert marked[6].is_duplicate and marked[6].canonical_id == 1
    assert not marked[3].is_duplicate
    kept = dd.dedup_exact(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


def test_minhash_finds_near_dups(docs):
    pairs = {(r.a, r.b): r.jaccard for r in dd.minhash_lsh_pairs(docs, threshold=0.4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 6) in pairs
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_simhash_near_dups(docs):
    sigs = {r.doc_id: r.simhash for r in dd.simhash_signature(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[6]
    pairs = {(r.a, r.b): r.hamming for r in dd.simhash_pairs(docs, max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0


def test_ngram_jaccard(docs):
    pairs = {(r.a, r.b): r.jaccard for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs


def test_text_profile(spark, docs):
    prof = {r.doc_id: r for r in analyze_documents(docs).collect()}
    assert prof[1].n_tokens == 14
    assert prof[1].lang_pred == "en"
    assert prof[5].lang_pred == "de"
    assert prof[1].fp == prof[2].fp == prof[6].fp
    assert 0.0 <= prof[4].quality <= 1.0
    q = quality_filter(docs, min_quality=0.0, min_tokens=10)
    assert q.count() >= 4


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        base[4 + (i % 4)] = 0.5
        jitter = [(x + 0.001 * ((i * 7 + j) % 5)) for j, x in enumerate(base)]
        rows.append((i, jitter, i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_labels(vectors):
    out = sim.brute_force_topk(vectors, [0, 1], k=5, vec_col="embedding")
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    for r in rows:
        assert r.vec_id % 4 == r.query_id % 4  # same cluster
        assert r.sim > 0.99
    ranks = sorted(r.rank for r in rows if r.query_id == 0)
    assert ranks == [1, 2, 3, 4, 5]


def test_lsh_topk_recall(vectors):
    bf = {(r.query_id, r.vec_id) for r in sim.brute_force_topk(vectors, [0], k=5).collect()}
    ls = {(r.query_id, r.vec_id) for r in sim.lsh_topk(vectors, [0], k=5, dim=8).collect()}
    assert len(bf & ls) >= 3  # decent recall on clustered data


def test_embedding_neardup_exact(vectors):
    pairs = sim.embedding_neardup_pairs(vectors, threshold=0.999, dim=8, exact=True)
    got = pairs.collect()
    assert got and all(r.a < r.b for r in got)
    assert all((r.a % 4) == (r.b % 4) for r in got)


def test_multimodal_features_and_dedup(spark):
    rows = [
        (1, "image", bytearray(b"AAAA"), "image/png"),
        (2, "image", bytearray(b"AAAA"), "image/png"),
        (3, "audio", bytearray(b"BBBBBB"), "audio/wav"),
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, content binary, mime string")
    feats = {r.media_id: r for r in mm.extract_media_features(media).collect()}
    assert feats[1].digest == feats[2].digest and feats[1].n_bytes == 4
    assert feats[3].kind == "audio"
    dups = mm.exact_media_dedup(media).collect()
    by_hash = {r.content_hash: r for r in dups}
    assert any(r.copies == 2 and r.canonical_id == 1 for r in dups)


def test_ivf_exhaustive_probe_matches_bruteforce(vectors):
    """nprobe == n_centroids probes every cell -> exact == brute force."""
    bf = sim.brute_force_topk(vectors, [0], k=5).collect()
    ivf = sim.ivf_topk(vectors, [0], k=5, n_centroids=8, nprobe=8, dim=8).collect()
    assert [(r.query_id, r.vec_id, r.rank) for r in bf] == [
        (r.query_id, r.vec_id, r.rank) for r in ivf
    ]


def test_ivf_pruned_probe_stays_in_cluster(vectors):
    out = sim.ivf_topk(vectors, [0, 1], k=3, n_centroids=8, nprobe=2, dim=8).collect()
    assert out and all(r.vec_id % 4 == r.query_id % 4 for r in out)


@pytest.fixture(scope="module")
def skewed_vectors(spark):
    """4 tight clusters of 50 where ids 0..49 ALL sit in cluster 0, with
    hash-based (cluster-uncorrelated) jitter — the adversarial corpus for
    a lowest-id quantizer."""
    import hashlib

    def jit(i, j):
        h = int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:4], 16)
        return (h % 1000) / 1000 * 0.05

    rows = []
    for i in range(200):
        c = i // 50
        base = [0.0] * 8
        base[c] = 1.0
        base[4 + c] = 0.5
        rows.append((i, [x + jit(i, j) for j, x in enumerate(base)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_trained_ivf_beats_standin_recall(skewed_vectors):
    """The trained integer k-means quantizer recovers the true clusters
    and beats the lowest-id stand-in on recall@5 when the low ids all
    belong to one cluster (the stand-in's failure mode)."""
    qids = [10, 60, 110, 160]
    truth = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(skewed_vectors, qids, k=5).collect()
    }

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    standin = recall(
        sim.ivf_topk(skewed_vectors, qids, k=5, n_centroids=4, nprobe=1, dim=8)
    )
    trained = recall(
        sim.ivf_topk(skewed_vectors, qids, k=5, n_centroids=4, nprobe=1,
                     dim=8, trained=True)
    )
    assert trained > standin
    assert trained == 1.0  # co-clustered neighbors stay co-assigned


def test_trained_ivf_index_matches_batch(spark, skewed_vectors, tmp_path_factory):
    """A trained index persists its integer quantizer and reproduces the
    batch trained path exactly."""
    idx = str(tmp_path_factory.mktemp("ivftrained") / "index")
    stats = sim.build_ivf_index(skewed_vectors, idx, n_centroids=4, trained=True)
    assert stats["trained"] is True and stats["n_centroids"] == 4
    qids = [10, 60]
    batch = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.ivf_topk(skewed_vectors, qids, k=3, n_centroids=4,
                              nprobe=2, dim=8, trained=True).collect()
    }
    indexed = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.ivf_topk_indexed(spark, idx, qids, k=3, nprobe=2).collect()
    }
    assert batch == indexed and batch


def test_sniff_media_headers_real_formats(spark):
    """The header sniffer parses GENUINE file headers (not the fake
    decoder): PNG big-endian dims, GIF little-endian dims, WAV fmt-chunk
    channels/sample-rate; junk bytes surface as unknown/null."""
    from eventstore_spark.operators.multimodal import sniff_media_headers

    png = bytes.fromhex(
        "89504E470D0A1A0A0000000D49484452" "00000140" "000000F0"
    )  # 320 x 240
    gif = bytes.fromhex("474946383961" "0301" "E801")  # GIF89a 259 x 488
    wav = bytes.fromhex(
        "52494646" "24000000" "57415645" "666D7420" "10000000"
        "0100" "0200" "44AC0000"
    )  # stereo, 44100 Hz
    junk = b"hello world, not a media file"
    media = spark.createDataFrame(
        [(1, png), (2, gif), (3, wav), (4, junk)],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in sniff_media_headers(media).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("png", 320, 240)
    assert (out[2].format, out[2].width, out[2].height) == ("gif", 259, 488)
    assert (out[3].format, out[3].channels, out[3].sample_rate) == ("wav", 2, 44100)
    assert out[3].width is None
    assert (out[4].format, out[4].width, out[4].channels) == ("unknown", None, None)


def _jpeg_bytes(w, h, com_len=7):
    """A genuine minimal JPEG: SOI, APP0(JFIF), variable-length COM,
    progressive SOF2 with the given dims, SOS."""
    import struct

    b = b"\xff\xd8"
    jf = b"JFIF\x00\x01\x02\x01\x00H\x00H\x00\x00"
    b += b"\xff\xe0" + struct.pack(">H", 2 + len(jf)) + jf
    com = b"x" * com_len
    b += b"\xff\xfe" + struct.pack(">H", 2 + len(com)) + com
    b += (b"\xff\xc2" + struct.pack(">H", 17) + b"\x08"
          + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9)
    return b + b"\xff\xda\x00\x02"


def _mp4_bytes(dur_units, ts=600, ver=0):
    """A genuine minimal ISO-BMFF file: ftyp, free, moov[mvhd v0/v1]."""
    import struct

    ftyp = b"isom" + struct.pack(">I", 0x200) + b"isomiso2"
    out = struct.pack(">I", 8 + len(ftyp)) + b"ftyp" + ftyp
    out += struct.pack(">I", 16) + b"free" + b"\x00" * 8
    if ver == 0:
        mvhd = (b"\x00\x00\x00\x00" + struct.pack(">II", 1, 2)
                + struct.pack(">II", ts, dur_units) + b"\x00" * 80)
    else:
        mvhd = (b"\x01\x00\x00\x00" + struct.pack(">QQ", 1, 2)
                + struct.pack(">I", ts) + struct.pack(">Q", dur_units)
                + b"\x00" * 76)
    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
    return out + struct.pack(">I", 16 + len(mvhd_box)) + b"moov" + mvhd_box


def test_sniff_jpeg_sof_and_mp4_mvhd(spark):
    """Round-5 sniffer extensions parse GENUINE variable-layout headers:
    JPEG dims come from an SOFn reached by WALKING segments (APP0 + a
    variable-length COM sit in front), MP4 duration from the mvhd inside
    moov reached by walking boxes (a free box sits in front), in both the
    v0 and v1 mvhd layouts. A truncated MP4 whose moov is absent yields
    null, not a wrong answer."""
    from eventstore_spark.operators.multimodal import sniff_media_headers

    media = spark.createDataFrame(
        [
            (1, _jpeg_bytes(640, 480)),
            (2, _jpeg_bytes(31, 4095, com_len=211)),
            (3, _mp4_bytes(6000)),                    # 10 s at ts=600
            (4, _mp4_bytes(1234, ts=1000)),           # 1234 ms
            (5, _mp4_bytes(90000, ts=90000, ver=1)),  # 1 s, v1 layout
            (6, _mp4_bytes(6000)[:20]),               # ftyp only, no moov
        ],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in sniff_media_headers(media).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("jpeg", 640, 480)
    assert (out[2].format, out[2].width, out[2].height) == ("jpeg", 31, 4095)
    assert (out[3].format, out[3].duration_ms) == ("mp4", 10000)
    assert out[4].duration_ms == 1234
    assert out[5].duration_ms == 1000
    assert (out[6].format, out[6].duration_ms) == ("mp4", None)
    # jpeg/mp4 never claim the other family's fields
    assert out[1].duration_ms is None and out[3].width is None


def test_codec_seam_probes_real_libraries():
    """DECODERS carries the real PIL/soundfile implementations exactly
    when the libraries import; without them the STDLIB decoders serve
    (round 8: real WAV via wave, real PNG via IHDR + zlib inflate),
    which themselves fall back to the deterministic stand-in for other
    formats."""
    import importlib.util

    from eventstore_spark.operators import multimodal as m

    has_pil = importlib.util.find_spec("PIL") is not None
    has_sf = importlib.util.find_spec("soundfile") is not None
    assert (m.DECODERS["image"] is m._pil_decode_image) == has_pil
    assert (m.DECODERS["audio"] is m._soundfile_decode_audio) == has_sf
    if not has_pil:
        assert m.DECODERS["image"] is m._stdlib_decode_image
    if not has_sf:
        assert m.DECODERS["audio"] is m._stdlib_decode_audio


def test_span_dedup_profile_counts(spark):
    """Substring-dedup signal: shared token windows count as duplicated,
    unique ones don't, short docs surface with zero spans (totality)."""
    from eventstore_spark.operators.corpus import span_dedup_profile

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta unique1 tail1"),
         (2, "alpha beta gamma delta epsilon zeta unique2 tail2"),
         (3, "one two three four five six seven eight"),
         (4, "tiny doc")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in span_dedup_profile(docs, span_tokens=6, min_copies=2).collect()
    }
    assert out[1].n_spans == 3 and out[1].n_dup_spans == 1  # shared opening
    assert out[2].n_spans == 3 and out[2].n_dup_spans == 1
    assert out[3].n_spans == 3 and out[3].n_dup_spans == 0
    assert out[4].n_spans == 0 and out[4].n_dup_spans == 0  # too short


def test_classifier_score_exact_inference(spark):
    """Hashed-linear classifier: deterministic integer logits, bigram+
    unigram features, empty-text totality, and a pure-projection plan
    (the only exchange is spread()'s round-robin)."""
    import re

    from eventstore_spark.operators.textops import classifier_score

    docs = spark.createDataFrame(
        [(1, "good clean text with words"), (2, "good clean text with words"),
         (3, ""), (4, "one")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in classifier_score(docs).collect()}
    assert out[1].logit_micro == out[2].logit_micro  # same text, same logit
    assert out[1].n_features == 9  # 5 unigrams + 4 bigrams
    assert out[1].label == (out[1].logit_micro > 0)
    assert out[3].n_features == 0 and out[3].logit_micro == 0
    assert out[3].label is False
    assert out[4].n_features == 1  # one unigram, no bigram

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        classifier_score(docs).explain("formatted")
    exchanges = re.findall(r"Exchange (\w+)", buf.getvalue())
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_rolling_fingerprint_order_sensitive(spark):
    from eventstore_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "A  b   C ")], "id long, t string"
    )
    got = {
        r.id: r.f
        for r in df.select("id", rolling_fingerprint(F.col("t")).alias("f")).collect()
    }
    assert got[1] == got[3]  # normalization-invariant (case/whitespace)
    assert got[1] != got[2]  # order-sensitive, unlike the md5 set fingerprint


def test_duplicate_clusters_transitive(spark):
    """a~b and b~c must land in ONE cluster with canonical=min id, even
    when a and c were never a candidate pair themselves."""
    import pandas as pd
    from eventstore_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 9], "text": ["x"] * 5})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 5], "b": [2, 3, 6]})
    )  # chain 1-2-3 plus cluster 5-6 (not in docs), 4 and 9 singletons
    got = {
        r.doc_id: (r.canonical_id, r.is_duplicate)
        for r in duplicate_clusters(docs, pairs=pairs).collect()
    }
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, True)
    assert got[4] == (4, False)
    assert got[9] == (9, False)


def test_stratified_sample_is_deterministic_superset(spark, docs):
    from eventstore_spark.operators.textops import stratified_sample

    lo = stratified_sample(docs, rates={"en": 20}, default_rate=10)
    hi = stratified_sample(docs, rates={"en": 60}, default_rate=30)
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids  # raising rates only ADDS docs
    again = {r.doc_id for r in stratified_sample(
        docs, rates={"en": 20}, default_rate=10).collect()}
    assert again == lo_ids  # no RNG anywhere


def test_frame_sampling_and_resize_plumbing(spark):
    """Multimodal one-to-many (frame sample) and transform (resize)
    plumbing: schema, per-kind routing, metadata-vs-probe duration, and
    determinism — decoder work itself is the documented stub."""
    from eventstore_spark.operators.multimodal import (
        resize_images, sample_frames,
    )

    rows = [
        (1, "video", b"vid-bytes-1", "video/fake", {"width": None, "height": None, "duration_ms": 3000}),
        (2, "video", b"vid-bytes-2", "video/fake", {"width": None, "height": None, "duration_ms": None}),
        (3, "image", b"img-bytes", "image/fake", {"width": 9, "height": 9, "duration_ms": None}),
    ]
    from eventstore_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_frames(media).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    # metadata duration honored: 3000ms @ 1000ms -> 3 frames
    assert [f.ts_ms for f in sorted(by_media[1], key=lambda f: f.frame_idx)] == [0, 1000, 2000]
    # missing duration -> probed (stub), at least one frame; image skipped
    assert len(by_media[2]) >= 1 and 3 not in by_media
    # deterministic frame digests
    again = {(r.media_id, r.frame_idx): r.frame_digest for r in sample_frames(media).collect()}
    assert all(again[(r.media_id, r.frame_idx)] == r.frame_digest for r in frames)

    resized = resize_images(media, 224, 224).collect()
    assert [r.media_id for r in resized] == [3]  # only images
    assert resized[0].width == 224 and len(resized[0].resized) == 32


def test_repetition_profile_signals(spark):
    from eventstore_spark.operators.corpus import repetition_profile

    rows = [
        (1, "spam spam spam spam spam", "en", "s", 24),          # one token repeated
        (2, "a b c d e f g h", "en", "s", 15),                   # all distinct
        (3, "x y x y x y x y", "en", "s", 15),                   # repeated bigram "x y"
        (4, "line one\nline one\nline two", "en", "s", 26),      # duplicate line
        (5, "$$ %% @@ !!", "en", "s", 11),                       # symbols
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    p = {r.doc_id: r for r in repetition_profile(docs).collect()}
    assert p[1].top_token_frac == 1.0 and p[1].top_bigram_frac == 1.0
    assert p[2].top_token_frac == pytest.approx(1 / 8)
    assert p[3].top_bigram_frac == pytest.approx(4 / 7)  # "x y" 4 of 7 bigrams
    assert p[4].dup_line_frac == pytest.approx(1 / 3)
    assert p[5].symbol_ratio == pytest.approx(8 / 11)
    assert p[2].dup_line_frac == 0.0


def test_pii_redact_patterns(spark):
    from eventstore_spark.operators.textops import pii_redact

    rows = [
        (1, "contact bob@example.com or alice@test.org today", "en", "s", 0),
        (2, "call 555-123-4567 now", "en", "s", 0),
        (3, "server at 192.168.0.1 is down", "en", "s", 0),
        (4, "clean text with no pii at all", "en", "s", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert out[1].n_emails == 2 and "<EMAIL>" in out[1].clean_text
    assert "bob@example.com" not in out[1].clean_text
    assert out[2].n_phones == 1 and "<PHONE>" in out[2].clean_text
    assert out[3].n_ips == 1 and "<IP>" in out[3].clean_text
    assert out[4].clean_text == rows[3][1]
    assert (out[4].n_emails, out[4].n_phones, out[4].n_ips) == (0, 0, 0)


def test_pack_shards_sequential_budget(spark):
    from eventstore_spark.operators.corpus import pack_shards

    # 10 docs x 10 tokens, budget 25 -> shards of starts 0,10,20,... -> shard = start // 25
    rows = [(i, " ".join(["w"] * 10), "en", "s", 0) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in pack_shards(docs, budget_tokens=25, buckets=3).collect()}
    assert all(out[i].n_tokens == 10 for i in range(10))
    assert [out[i].shard for i in range(10)] == [(i * 10) // 25 for i in range(10)]


def test_contamination_overlap_detects_shared_ngrams(spark):
    from eventstore_spark.operators.corpus import contamination_overlap

    bench_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, bench_text, "en", "s", 0),                            # benchmark doc
        (10, "prefix words alpha beta gamma delta epsilon zeta suffix", "en", "s", 0),  # contaminated
        (11, "totally unrelated content with nothing shared here ok", "en", "s", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = contamination_overlap(docs, bench_max_id=5, n=4, min_shared=1).collect()
    pairs = {(r.doc_id, r.bench_id): r.shared for r in out}
    assert (10, 0) in pairs and pairs[(10, 0)] == 3  # three shared 4-grams
    assert not any(d == 11 for d, _ in pairs)


def test_cluster_survivors_picks_highest_quality(spark, docs):
    from eventstore_spark.operators.corpus import cluster_survivors
    from eventstore_spark.operators.textops import analyze_documents

    out = {r.canonical_id: r for r in cluster_survivors(docs, threshold=0.4).collect()}
    qual = {r.doc_id: r.quality for r in analyze_documents(docs).collect()}
    # docs 1,2,3,6 cluster together (canonical=1); survivor = argmax quality
    members = [1, 2, 3, 6]
    expect = min(sorted(members, key=lambda d: (-qual[d], d))[:1])
    assert out[1].n_members == 4
    assert out[1].survivor_id == expect
    assert out[1].quality == max(qual[d] for d in members)


def test_audio_segmentation_plumbing(spark):
    from eventstore_spark.operators.multimodal import MEDIA_SCHEMA, segment_audio

    rows = [
        (1, "audio", b"some-audio-bytes", "audio/fake", {"duration_ms": 600}),
        (2, "video", b"vid", "video/fake", {"duration_ms": 5000}),  # skipped
        (3, "audio", b"x", "audio/fake", {}),                        # probed duration
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = segment_audio(media, chunk_ms=250).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
    assert 2 not in by_media
    a1 = sorted(by_media[1], key=lambda r: r.chunk_idx)
    assert [(r.start_ms, r.end_ms) for r in a1] == [(0, 250), (250, 500), (500, 600)]
    assert all(r.duration_ms == 600 for r in a1)
    assert by_media[3], "probed-duration track produced no chunks"
    assert len({r.chunk_digest for r in out}) == len(out)  # digests distinct


def test_incremental_minhash_matches_batch(spark, docs, tmp_path_factory):
    """Batch-equivalence of the persisted dedup index: index the 'old'
    corpus once, run the incremental path on a 'new' batch, and the
    result must equal the full-recompute pairs restricted to pairs that
    touch the new batch — the correctness contract that lets a 100 TB
    pipeline dedup per-batch instead of per-corpus."""
    idx = str(tmp_path_factory.mktemp("mhidx") / "index")
    old = docs.where("doc_id <= 3")
    new = docs.where("doc_id > 3")

    stats = dd.build_minhash_index(old, idx)
    assert stats["docs_indexed"] == 3

    inc = {
        (r.a, r.b): r.jaccard
        for r in dd.minhash_pairs_incremental(new, spark, idx, threshold=0.4).collect()
    }
    full = {
        (r.a, r.b): r.jaccard
        for r in dd.minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    new_ids = {4, 5, 6}
    expected = {p: j for p, j in full.items() if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    # the fixture must actually exercise a cross-batch pair (6 dups 1)
    assert any(a not in new_ids or b not in new_ids for a, b in inc), inc

    # folding the new batch in and re-running an (empty-delta) batch
    # finds nothing new against itself
    dd.build_minhash_index(new, idx)
    again = dd.minhash_pairs_incremental(
        spark.createDataFrame([], docs.schema), spark, idx, threshold=0.4
    )
    assert again.count() == 0


def test_ivf_index_matches_batch_and_prunes_partitions(spark, vectors, tmp_path_factory):
    """The persisted IVF index returns IDENTICAL top-k to the one-shot
    ivf_topk, and its scan reads only the probed cell partitions
    (PartitionFilters carries the cell isin — directory-level pruning,
    the on-disk version of nprobe)."""
    import io
    import contextlib

    from eventstore_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    idx = str(tmp_path_factory.mktemp("ivfidx") / "index")
    stats = build_ivf_index(vectors, idx, n_centroids=4)
    assert stats["n_centroids"] == 4

    qids = [5, 11]
    batch = {
        (r.query_id, r.rank): (r.vec_id, round(r.sim, 9))
        for r in ivf_topk(vectors, qids, k=3, n_centroids=4, nprobe=2, dim=8).collect()
    }
    indexed_df = ivf_topk_indexed(spark, idx, qids, k=3, nprobe=2)
    indexed = {
        (r.query_id, r.rank): (r.vec_id, round(r.sim, 9))
        for r in indexed_df.collect()
    }
    assert indexed == batch and len(indexed) == 6

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed_df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cell#" in plan.split("PartitionFilters", 2)[-1][:400].replace(
        "dynamicpruning", ""
    )
    # the isin filter must actually restrict cells (nprobe=2 of 4 per
    # query -> at most 4 distinct probed cells, typically fewer)
    assert "cell" in plan


def test_source_mixture_flattens_skew(spark):
    """Temperature sampling (alpha=0.5) must up-sample small sources
    relative to large ones while landing near the target total."""
    from eventstore_spark.operators.corpus import source_mixture

    rows = [(i, "text", "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_mixture(docs, target_frac=0.5).collect()
    n_big = sum(1 for r in out if r.source == "big")
    n_small = sum(1 for r in out if r.source == "small")
    assert n_small / 100 > n_big / 900
    assert 0.3 < (n_big + n_small) / 1000 < 0.7
    # deterministic: same inputs, same sample
    again = source_mixture(docs, target_frac=0.5).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in out}


def test_contamination_exact_finds_verbatim_fragments(spark):
    """A corpus doc embedding a benchmark doc's opening verbatim is
    flagged; paraphrases and unrelated docs are not (zero false
    positives is the operator's contract)."""
    from eventstore_spark.operators.corpus import contamination_exact

    bench_text = "the benchmark question asks about the capital of france and its rivers"
    rows = [
        (0, bench_text, "en", "s", 70),
        (100, "prefix text " + bench_text + " suffix text", "en", "s", 90),  # verbatim embed
        (101, "the benchmark QUERY asks about the capital of france and its rivers", "en", "s", 60),  # diverges inside the 40-char needle
        (102, "totally unrelated document about spark physical plans", "en", "s", 50),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    hits = {(r.doc_id, r.bench_id) for r in
            contamination_exact(docs, bench_max_id=20, needle_chars=40).collect()}
    assert hits == {(100, 0)}, hits


def test_per_source_cap_exact_topk(spark):
    """The two-pass bucketed rank equals the direct per-source top-k:
    longest docs win, doc_id breaks length ties, every source capped."""
    from eventstore_spark.operators.corpus import per_source_cap

    rows = [(i, f"s{i % 3}", 1000 - (i * 7) % 90) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = per_source_cap(docs, k=4, buckets=8).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append((r.rank_in_source, r.doc_id))
    expect = {}
    for i, s, n in rows:
        expect.setdefault(s, []).append((-n, i))
    for s, lst in expect.items():
        want = [doc for _, doc in sorted(lst)[:4]]
        assert [d for _, d in sorted(by_src[s])] == want, s
    assert all(len(v) == 4 for v in by_src.values())


def test_training_order_is_reproducible_permutation(spark):
    """(shard, position) covers every doc exactly once, positions are
    dense per shard, the mapping is identical across runs, and a new
    epoch seed yields a different permutation."""
    from eventstore_spark.operators.corpus import training_order

    docs = spark.range(200).selectExpr("id AS doc_id")
    a = {r.doc_id: (r.shard, r.position)
         for r in training_order(docs, num_shards=8, seed="epoch-0").collect()}
    b = {r.doc_id: (r.shard, r.position)
         for r in training_order(docs, num_shards=8, seed="epoch-0").collect()}
    assert a == b and len(a) == 200
    per_shard = {}
    for sh, pos in a.values():
        per_shard.setdefault(sh, []).append(pos)
    for sh, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), sh
    c = {r.doc_id: (r.shard, r.position)
         for r in training_order(docs, num_shards=8, seed="epoch-1").collect()}
    assert c != a  # fresh permutation per epoch


def _wav_bytes(ch, sr, dur_ms, list_chunk=False):
    """A genuine canonical WAV header (full 16-byte fmt incl. byte_rate +
    data chunk sized for dur_ms); optionally a LIST chunk BEFORE fmt so
    fixed offsets would misread and only a real chunk walk parses it."""
    import struct

    byte_rate = sr * ch * 2
    data_size = byte_rate * dur_ms // 1000
    chunks = b""
    if list_chunk:
        payload = b"INFOIART" + struct.pack("<I", 6) + b"someby"
        chunks += b"LIST" + struct.pack("<I", len(payload)) + payload
    chunks += (b"fmt " + struct.pack("<I", 16)
               + struct.pack("<HHIIHH", 1, ch, sr, byte_rate, ch * 2, 16))
    chunks += b"data" + struct.pack("<I", data_size)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_sniff_wav_duration_and_chunk_walk(spark):
    """WAV fields come from a RIFF chunk WALK: duration_ms =
    data_size/byte_rate, and a LIST chunk in front of fmt (where fixed
    offsets would read garbage) still parses correctly."""
    from eventstore_spark.operators.multimodal import sniff_media_headers

    media = spark.createDataFrame(
        [
            (1, _wav_bytes(2, 44100, 1500)),
            (2, _wav_bytes(1, 16000, 730, list_chunk=True)),
            (3, _wav_bytes(2, 48000, 0)[:28]),  # truncated: no data chunk
        ],
        "media_id long, content binary",
    )
    out = {r.media_id: r for r in sniff_media_headers(media).collect()}
    assert (out[1].format, out[1].channels, out[1].sample_rate,
            out[1].duration_ms) == ("wav", 2, 44100, 1500)
    assert (out[2].channels, out[2].sample_rate, out[2].duration_ms) == (
        1, 16000, 730)
    assert out[3].format == "wav" and out[3].duration_ms is None


def test_readability_scores(spark):
    """Readability: exact integer counts; simple text scores HIGHER
    (easier) than long-winded multi-clause text."""
    from eventstore_spark.operators.textops import readability

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran. It was fun."),
         (2, "Notwithstanding considerable organizational "
             "complexities, institutional transformation requires "
             "extraordinarily comprehensive administrative coordination "
             "methodologies.")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in readability(docs).collect()}
    assert out[1].n_sentences == 3 and out[2].n_sentences == 1
    assert out[1].flesch > out[2].flesch
    assert out[1].flesch_decile >= out[2].flesch_decile
    assert out[1].n_words == 9


def test_embedding_outliers_flags_degenerate_vectors(spark):
    """Norm screening: zeroed and exploded vectors flag as outliers;
    normal-range vectors don't."""
    from eventstore_spark.operators.similarity import embedding_outliers

    rows = ([(i, [0.1 + 0.001 * (i % 5)] * 8) for i in range(20)]
            + [(90, [0.0] * 8), (91, [0.5] * 8)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: bool(r.is_outlier)
           for r in embedding_outliers(df).collect()}
    assert out[90] and out[91]
    assert not any(out[i] for i in range(20))


def test_ngram_novelty_semantics(spark):
    """Novelty: a doc sharing all content scores 0-ish; a unique doc
    scores 1.0."""
    from eventstore_spark.operators.dedup import ngram_novelty

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, shared), (2, shared),
         (3, "completely different words never repeated anywhere else")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty(docs).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[3].n_shingles == out[3].n_unique


def test_source_overlap_cross_source_pairs(spark):
    """Cross-source matrix: near-identical docs in different sources
    count under the normalized (source_a, source_b) key."""
    from eventstore_spark.operators.dedup import source_overlap

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text, "web"), (2, text, "books"),
         (3, text + " ok", "web"),
         (4, "something else entirely unrelated to the rest", "books")],
        "doc_id long, text string, source string")
    out = {(r.source_a, r.source_b): r.n_pairs
           for r in source_overlap(docs, threshold=0.5).collect()}
    assert out[("books", "web")] >= 2  # 1-2 and 2-3 cross pairs
    assert ("books", "books") not in out  # doc 4 matches nothing


def _has(mod):
    import importlib.util

    return importlib.util.find_spec(mod) is not None


def test_codec_probe_wiring():
    """The decode seam resolves at import: library codecs when the
    environment has them, stdlib WAV/PNG decoders otherwise (with the
    deterministic stand-in for formats neither can read) — pinned in
    BOTH directions so a container that gains Pillow/soundfile
    activates them without a code change (VERDICT r7 carry #7)."""
    assert mm.DECODERS["image"] is (
        mm._pil_decode_image if _has("PIL") else mm._stdlib_decode_image)
    assert mm.DECODERS["audio"] is (
        mm._soundfile_decode_audio if _has("soundfile")
        else mm._stdlib_decode_audio)


def _tiny_png(w, h):
    """Hand-assembled minimal 8-bit RGB PNG (stdlib only)."""
    import struct
    import zlib

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(3 * w) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _tiny_wav(channels, rate, frames):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * channels * frames)
    return buf.getvalue()


def test_stdlib_codecs_decode_real_wav_and_png(spark):
    """No-dependency REAL decode (round 8): genuine WAV files yield
    their true channel count / samplerate via stdlib wave, genuine PNGs
    their true IHDR dimensions with the IDAT stream actually inflated —
    while non-WAV/PNG bytes still take the deterministic stand-in, so
    mixed corpora (and the synthetic-media oracle) are unaffected."""
    png = _tiny_png(37, 21)
    wav = _tiny_wav(2, 16000, 160)
    junk = b"not a media file at all"
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png"),
         (2, "audio", bytearray(wav), "audio/wav"),
         (3, "image", bytearray(junk), "application/octet-stream"),
         (4, "audio", bytearray(junk), "application/octet-stream")],
        "media_id long, kind string, content binary, mime string")
    feats = {r.media_id: r for r in mm.extract_media_features(media).collect()}
    assert (feats[1].width, feats[1].height) == (37, 21)        # real IHDR
    assert (feats[2].width, feats[2].height) == (2, 160)        # real RIFF
    fake = mm._fake_decode_image(junk)
    assert (feats[3].width, feats[3].height) == (fake["width"], fake["height"])
    assert feats[4].width == fake["width"]                      # fallback
    # corrupt pixel stream is REJECTED by the inflate (null dims, digest
    # kept for quarantine), never fingerprinted with pseudo-dims
    broken = png[:45] + b"\x00\x00\x00\x00" + png[49:]
    rej = mm._stdlib_decode_image(broken)
    assert rej["width"] is None and rej["height"] is None
    assert rej["digest"] is not None
    # hostile IHDR dims (>= 2^31) are rejected, not returned as overflow
    import struct as _struct

    huge = bytearray(png)
    huge[16:24] = _struct.pack(">II", 0x90000000, 21)
    assert mm._stdlib_decode_image(bytes(huge))["width"] is None


@pytest.mark.skipif(not _has("PIL"), reason="Pillow absent: codec stand-in active")
def test_real_image_codec_when_available(spark):
    """Activates when the environment gains Pillow: a genuine PNG's TRUE
    dimensions flow through the Arrow-batched mapInPandas plumbing."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (37, 21)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()), "image/png")],
        "media_id long, kind string, content binary, mime string")
    feat = mm.extract_media_features(media).collect()[0]
    assert (feat.width, feat.height) == (37, 21)


@pytest.mark.skipif(not _has("soundfile"), reason="soundfile absent: codec stand-in active")
def test_real_audio_codec_when_available(spark):
    """Activates when the environment gains soundfile: a genuine WAV
    (written with the stdlib wave module) probes to its real channel
    count and samplerate-derived height."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 2 * 160)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()), "audio/wav")],
        "media_id long, kind string, content binary, mime string")
    feat = mm.extract_media_features(media).collect()[0]
    assert (feat.width, feat.height) == (2, 160)


def test_semantic_dedup_semantics(vectors):
    """SemDeDup (round 9): within-cell cosine dedup with min-id
    survivors — every vector appears exactly once, near-identical
    same-cluster vectors drop while the cluster's lowest id survives,
    and cross-cluster vectors never mark each other."""
    out = sim.semantic_dedup(vectors, threshold=0.999, n_centroids=8)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 40                      # total function over ids
    # the fixture's 4 clusters are near-identical within themselves at
    # this jitter scale, so each cluster keeps a head and drops a tail
    kept = [i for i, r in rows.items() if r.kept]
    dropped = [i for i, r in rows.items() if not r.kept]
    assert dropped, "threshold 0.999 on jittered clones must drop some"
    for i in (0, 1, 2, 3):                      # lowest id per cluster
        assert rows[i].kept, f"min-id {i} must survive"
    # a dropped vector always has a kept lower-id vector in its cell
    for i in dropped:
        assert any(rows[j].cell == rows[i].cell and j < i for j in kept)
    # loosening the threshold past any real similarity keeps everything
    all_kept = sim.semantic_dedup(vectors, threshold=1.01, n_centroids=8)
    assert all_kept.where("NOT kept").count() == 0


def test_gopher_quality_rules(spark):
    """Gopher §A1.1 rules fire individually: too-short, symbol-heavy,
    stopword-free, and long-word docs drop; a plain long doc keeps."""
    from eventstore_spark.operators.textops import gopher_quality

    good = "the quick brown fox jumps with energy and " * 8  # 64 words
    rows = [
        (1, good),
        (2, "the short one with few words"),              # < 50 words
        (3, ("### " * 30 + good)),                         # symbol ratio
        (4, "zebra " * 60),                                # no stop words
        (5, "pneumonoultramicroscopic " * 60),             # mean len > 10
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[1].kept
    assert not out[2].kept and out[2].n_words < 50
    assert not out[3].kept and out[3].symbol_ratio > 0.1
    assert not out[4].kept and out[4].n_stops == 0
    assert not out[5].kept and out[5].mean_word_len > 10


def test_c4_quality_rules(spark):
    """C4 §2.2 rules fire individually: line-level terminal punctuation /
    word count / 'javascript', document-level sentence count, 'lorem
    ipsum', and curly brace."""
    from eventstore_spark.operators.textops import c4_quality

    good = ("the quick brown fox jumps high.\n"
            "the lazy dog sleeps all day.\n"
            "a bird sings in the tree.")
    rows = [
        (1, good),
        (2, "no terminal punctuation here\nanother bare line"),
        (3, good + "\nenable javascript to view this page."),
        (4, good.replace("fox jumps high", "lorem ipsum dolor")),
        (5, good + "\nfunction f() { return 1; }"),
        (6, "one sentence only."),                   # < 3 sentences
        (7, "ok.\nok.\nok."),                        # < 3 words per line
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_quality(docs).collect()}
    assert out[1].kept and out[1].kept_lines == 3 and out[1].n_sentences == 3
    assert not out[2].kept and out[2].kept_lines == 0
    # the javascript LINE drops but the doc's other lines carry it
    assert out[3].kept_lines == 3 and out[3].n_lines == 4
    assert not out[4].kept and out[4].has_lorem_ipsum
    assert not out[5].kept and out[5].has_brace
    assert not out[6].kept and out[6].n_sentences == 1
    assert not out[7].kept and out[7].kept_lines == 0 and out[7].n_lines == 3


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR weights rank documents written in the target sub-corpus's
    vocabulary above off-target ones, and k caps the selection."""
    from eventstore_spark.operators.corpus import dsir_select

    rows = []
    # target domain: German function words; raw majority: English
    for i in range(10):
        rows.append((i, "der die das und ist mit nicht der die und", "de"))
    for i in range(10, 40):
        rows.append((i, "the and of to is with for the and of", "en"))
    # an ENGLISH-labelled doc whose text is target-like must outrank
    # english-text docs (DSIR scores text, not labels)
    rows.append((40, "der die das und ist mit nicht und das ist", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = dsir_select(docs, target_lang="de", k=15, buckets=64)
    got = {r.doc_id: r.weight_micro for r in out.collect()}
    assert len(got) == 15
    assert 40 in got, "target-like text selected regardless of lang label"
    en_weights = [w for i, w in got.items() if 10 <= i < 40]
    assert all(got[40] > w for w in en_weights)
    de_min = min(w for i, w in got.items() if i < 10)
    assert all(de_min > w for w in en_weights)


def test_quality_sample_deterministic_gate(spark):
    """The coin is a pure function of (salt, doc_id): two runs agree
    row-for-row; kept == (u < p_micro); changing the salt changes the
    kept set but never the scores."""
    from eventstore_spark.operators.corpus import quality_sample

    docs = spark.createDataFrame(
        [(i, ("the and of to is with for " * (1 + i % 20)), f"s{i % 3}")
         for i in range(60)],
        "doc_id long, text string, source string",
    )
    a = {r.doc_id: r for r in quality_sample(docs).collect()}
    b = {r.doc_id: r for r in quality_sample(docs).collect()}
    assert all(a[i] == b[i] for i in a)
    assert all((r.u < r.p_micro) == r.kept for r in a.values())
    assert any(r.kept for r in a.values()) and any(not r.kept for r in a.values())
    c = {r.doc_id: r for r in quality_sample(docs, salt="other").collect()}
    assert all(c[i].p_micro == a[i].p_micro for i in a)
    assert any(c[i].kept != a[i].kept for i in a)


def test_contamination_semantic_flags_planted_neighbor(spark):
    """A corpus vector that IS a benchmark vector (plus tiny jitter) is
    flagged with its source as best_bench_id; orthogonal vectors are not."""
    import math

    from eventstore_spark.operators.similarity import contamination_semantic

    dim = 8

    def unit(axis):
        v = [0.0] * dim
        v[axis] = 1.0
        return v

    rows = []
    for b in range(4):                       # benchmark: axes 0..3
        rows.append((b, unit(b), 0))
    near = unit(2)
    near[3] = 0.05                           # corpus 10 ~ bench 2
    norm = math.sqrt(sum(x * x for x in near))
    rows.append((10, [x / norm for x in near], 1))
    rows.append((11, unit(5), 1))            # orthogonal to all bench
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in
           contamination_semantic(vecs, bench_max_id=4, threshold=0.9,
                                  dim=dim).collect()}
    assert set(out) == {10, 11}
    assert out[10].contaminated and out[10].best_bench_id == 2 and out[10].n_hits == 1
    assert not out[11].contaminated and out[11].n_hits == 0 and out[11].max_sim == 0.0


def test_ccnet_buckets_thirds_and_rank_permutation(spark):
    """Per-language thirds: ranks are a 1..n permutation inside each
    language, bucket sizes follow the 3*rank <= n / <= 2n boundaries, and
    higher-scoring (more fluent) docs land in head."""
    from eventstore_spark.operators.corpus import ccnet_buckets

    rows = []
    # 9 'en' docs: 3 fluent (common words), 3 mixed, 3 rare-garbage
    for i in range(3):
        rows.append((i, "the the the and and of of to is", "en"))
    for i in range(3, 6):
        rows.append((i, "the and zebra quartz of to fjord", "en"))
    for i in range(6, 9):
        rows.append((i, f"xylophone{i} quixotic{i} jackdaw{i}", "en"))
    # 4 'de' docs: an n=4 language exercises uneven thirds (1/1/2)
    for i in range(9, 13):
        rows.append((i, "der die das und ist " + "der " * (13 - i), "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet_buckets(docs, top_v=None).collect()
    en = sorted((r for r in out if r.lang == "en"), key=lambda r: r.lang_rank)
    de = sorted((r for r in out if r.lang == "de"), key=lambda r: r.lang_rank)
    assert [r.lang_rank for r in en] == list(range(1, 10))
    assert [r.lang_rank for r in de] == list(range(1, 5))
    assert [r.bucket for r in en] == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    assert [r.bucket for r in de] == ["head", "middle", "tail", "tail"]
    # fluent docs rank above garbage docs
    assert {r.doc_id for r in en[:3]} == {0, 1, 2}
    assert {r.doc_id for r in en[-3:]} == {6, 7, 8}
    # rank order is (score desc, doc_id asc): the three identical fluent
    # docs tie-break by id
    assert [r.doc_id for r in en[:3]] == [0, 1, 2]


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    """Groups with < k distinct tokens report EXACT counts; a group with
    many distincts estimates within the sketch's expected error band
    (~1/sqrt(k)); the sketch state never exceeds k values."""
    from eventstore_spark.operators.textops import kmv_distinct

    rows = [(1, "alpha beta gamma alpha beta", "small")]
    # 2000 distinct tokens spread over 20 docs in one group
    for d in range(20):
        words = " ".join(f"w{d}_{i}" for i in range(100))
        rows.append((10 + d, words, "big"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.group: r for r in kmv_distinct(docs, k=64).collect()}
    assert out["small"].n_sketch == 3
    assert out["small"].est_distinct == 3.0        # exact below k
    assert out["big"].n_sketch == 64               # state capped at k
    assert 2000 * 0.7 < out["big"].est_distinct < 2000 * 1.3
    # determinism: a second run reproduces the estimate bit-for-bit
    again = {r.group: r for r in kmv_distinct(docs, k=64).collect()}
    assert again["big"].est_distinct == out["big"].est_distinct


def test_bpe_train_merge_sequence_hand_computed(spark):
    """The classic BPE walkthrough: with hug x4, pug/pun/bun x1 the merge
    order is (u,g) -> (h,ug) -> (u,n) -> then the count-1 tie breaks
    lexicographically to (b,un)."""
    from eventstore_spark.operators.textops import bpe_train

    docs = spark.createDataFrame(
        [(1, "hug hug hug hug pug pun bun")], "doc_id long, text string")
    got = [(r.step, r.left_sym, r.right_sym, r.merged, r.n)
           for r in bpe_train(docs, merges=4).orderBy("step").collect()]
    assert got == [
        (1, "u", "g", "ug", 5),
        (2, "h", "ug", "hug", 4),
        (3, "u", "n", "un", 2),
        (4, "b", "un", "bun", 1),
    ]


def test_bpe_train_greedy_overlap_and_early_stop(spark):
    """Greedy left-to-right application: "aaa" under (a,a) becomes
    [aa, a] (NOT [a, aa] or [aa, aa]), visible in round 2's counts; the
    loop stops early once words are fully merged."""
    from eventstore_spark.operators.textops import bpe_train

    docs = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    got = [(r.step, r.merged, r.n)
           for r in bpe_train(docs, merges=10).orderBy("step").collect()]
    # round1: two (a,a) pairs per word x2 words = 4; greedy -> [aa, a]
    # round2: one (aa,a) pair per word x2 words = 2; then single symbols
    assert got == [(1, "aa", 4), (2, "aaa", 2)]


def test_bpe_apply_counts_shrink_with_merges(spark):
    """Applying the trained table compresses: zero merges == char count;
    each applied merge reduces a word's symbol count by its occurrence
    count; an explicit merge table bypasses training."""
    from eventstore_spark.operators.textops import bpe_apply

    docs = spark.createDataFrame(
        [(1, "hug hug"), (2, "pug")], "doc_id long, text string")
    zero = {r.doc_id: r for r in bpe_apply(docs, merge_table=[]).collect()}
    assert zero[1].n_words == 2 and zero[1].n_bpe_tokens == 6  # chars
    assert zero[2].n_bpe_tokens == 3
    # explicit table: (u,g) then (h,ug) -> hug = 1 symbol, pug = [p, ug]
    table = [("u", "g"), ("h", "ug")]
    out = {r.doc_id: r for r in bpe_apply(docs, merge_table=table).collect()}
    assert out[1].n_bpe_tokens == 2   # [hug] x2
    assert out[2].n_bpe_tokens == 2   # [p, ug]
    # trained-from-corpus path: merges=2 trains (u,g) then (h,ug) here
    trained = {r.doc_id: r for r in bpe_apply(docs, merges=2).collect()}
    assert trained[1].n_bpe_tokens == 2 and trained[2].n_bpe_tokens == 2


def test_boilerplate_ngrams_flags_per_source_templates(spark):
    """A footer repeated across one source's docs is flagged for THAT
    source only; unique body text never flags; the min_docs floor
    protects tiny sources."""
    from eventstore_spark.operators.corpus import boilerplate_ngrams

    footer = "subscribe to our newsletter"
    rows = []
    for i in range(10):
        rows.append((i, f"alpha{i} beta{i} gamma{i} delta{i} " + footer, "siteA"))
    for i in range(10, 20):
        rows.append((i, f"epsilon{i} zeta{i} eta{i} theta{i} iota{i}", "siteB"))
    rows.append((20, footer, "tiny"))  # 1 doc < min_docs floor
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = boilerplate_ngrams(docs, n=3, min_doc_frac=0.5, min_docs=3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, set()).add(r.shingle)
    assert "subscribe to our" in by_src.get("siteA", set())
    assert all(r.df_docs == 10 and r.doc_frac == 1.0 for r in out)
    assert set(by_src) == {"siteA"}  # per-source docs unique elsewhere;
    # the tiny source's footer is floored out by min_docs
    assert all("subscribe" in s or "to our" in s or "our newsletter" in s
               for s in by_src["siteA"])


def test_pq_topk_finds_cluster_mates(vectors):
    out = sim.pq_topk(vectors, [0, 1], k=5, m=4, n_codes=8).collect()
    assert {r.query_id for r in out} == {0, 1}
    for qid in (0, 1):
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == [1, 2, 3, 4, 5]
    # ADC over 8-code-per-subspace books must keep the 4 obvious
    # clusters separated: top-5 are same-cluster, never the query itself
    assert all(r.vec_id % 4 == r.query_id % 4 for r in out)
    assert all(r.vec_id != r.query_id for r in out)
    # distances ascend within each query
    for qid in (0, 1):
        ds = [r.adist for r in sorted(
            (r for r in out if r.query_id == qid), key=lambda r: r.rank)]
        assert ds == sorted(ds)


def test_pq_zero_quantization_error_is_exact_l2(spark):
    """With n_codes >= n_vectors every subvector is its own centroid
    (seeds = the vectors, assignment distance 0, floor-mean = identity),
    so ADC == the exact L2^2 of the quantized vectors — pin it vs numpy."""
    import numpy as np

    rows = [(i, [0.1 * ((i * 3 + j) % 7) - 0.2 for j in range(8)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.pq_topk(emb, [0], k=5, m=4, n_codes=8, iters=1).collect()
    q = np.floor(np.array(
        [np.array(r[1], dtype=np.float32).astype(np.float64) * 1_000_000
         for r in rows]))
    exact = {i: int(((q[0] - q[i]) ** 2).sum()) for i in range(1, 6)}
    got = {r.vec_id: r.adist for r in out}
    assert got == exact


def test_pq_topk_empty_corpus_raises_and_frees_its_cache(spark):
    """An empty corpus is a clear ValueError, and the corpus cache built
    for training is released on that path too."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    with pytest.raises(ValueError, match="non-empty corpus"):
        sim.pq_topk(emb, [0], k=5, m=4, n_codes=8)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_pq_codes_shape_and_determinism(vectors):
    books = sim.train_pq_codebooks(vectors, m=4, k=8, iters=2)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 2 for b in books for c in b)  # dim 8 / m 4
    again = sim.train_pq_codebooks(vectors, m=4, k=8, iters=2)
    assert books == again
    codes = sim.pq_encode(vectors, books).collect()
    assert all(len(r.codes) == 4 for r in codes)
    assert all(0 <= c < 8 for r in codes for c in r.codes)


def test_heavy_hitters_sketch_invariants(spark):
    from eventstore_spark.operators.textops import heavy_hitters

    rows = [
        (1, " ".join(["hot"] * 50 + ["warm"] * 20 + ["cold", "rare"]), "en", "s", 0),
        (2, " ".join(["hot"] * 30 + ["warm"] * 10 + ["tepid"]), "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = heavy_hitters(docs, depth=3, width=8, k=10).collect()
    by_tok = {r.token: r for r in out}
    # count-min is one-sided: estimate never undercounts
    assert all(r.est >= r.exact for r in out)
    assert all(r.overcount == r.est - r.exact for r in out)
    # the true heavy hitter leads and its exact count is exact
    assert out[0].token == "hot" and by_tok["hot"].exact == 80
    assert by_tok["warm"].exact == 30
    # estimates are sorted desc, ties by token
    ests = [(-r.est, r.token) for r in out]
    assert ests == sorted(ests)


def test_line_dedup_removes_boilerplate_keeps_prose(spark):
    from eventstore_spark.operators.corpus import line_dedup

    rows = [
        (1, "COOKIE BANNER\nunique prose one\nfooter text", "en", "s", 0),
        (2, "COOKIE BANNER\nanother doc body\nfooter text", "en", "s", 0),
        (3, "COOKIE BANNER\nthird body line\nfooter text", "en", "s", 0),
        (4, "totally unique document", "en", "s", 0),
        (5, "COOKIE BANNER\nfooter text", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in line_dedup(docs, min_docs=3).collect()}
    assert out[1].clean_text == "unique prose one" and out[1].n_removed == 2
    assert out[2].clean_text == "another doc body"
    assert out[4].clean_text == "totally unique document" and out[4].n_removed == 0
    # a doc that is ALL boilerplate survives as an empty row, not a drop
    assert out[5].clean_text == "" and out[5].n_removed == 2
    assert out[5].n_lines == 2
    # surviving lines keep original order
    rows2 = [(9, "z last\nCOMMON\na first", "en", "s", 0),
             (10, "COMMON", "en", "s", 0), (11, "COMMON", "en", "s", 0)]
    docs2 = spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: r.clean_text for r in line_dedup(docs2, min_docs=3).collect()}
    assert got[9] == "z last\na first"


def test_lsh_calibration_identical_docs_est_and_true_full(spark):
    from eventstore_spark.operators.dedup import lsh_calibration

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0),
        (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0),
        (3, "alpha beta gamma delta epsilon zeta iota kappa", "en", "s", 0),
        (4, "completely different words here entirely now", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {(r.a, r.b): r for r in lsh_calibration(docs).collect()}
    # identical docs: every signature component AND every shingle match
    r12 = out[(1, 2)]
    assert r12.est_micro == 1_000_000 and r12.true_micro == 1_000_000
    assert r12.err_micro == 0
    # est and err are consistent by construction on every pair
    for r in out.values():
        assert r.err_micro == r.est_micro - r.true_micro
        assert 0 <= r.est_micro <= 1_000_000
        assert 0 <= r.true_micro <= 1_000_000
    # the unrelated doc is never a banded candidate
    assert not any(4 in pair for pair in out)


def test_kn_perplexity_model_properties(spark):
    from eventstore_spark.operators.textops import kn_perplexity

    rows = [
        # train slice: "a b" dominates, "a c" seen once
        (1, "a b a b a b a c", "en", "src0", 0),
        (2, "a b a b", "en", "src0", 0),
        # eval-only docs
        (3, "a b a b", "en", "src1", 0),       # all seen, frequent
        (4, "a c a c", "en", "src1", 0),       # seen but rare
        (5, "x y z", "en", "src1", 0),         # w1 unseen everywhere
        (6, "word", "en", "src1", 0),          # no bigram at all
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in kn_perplexity(docs, train_source="src0").collect()}
    # every doc surfaces; bigram-free doc is 0/0/0
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[6].n_bigrams == 0 and out[6].sum_lp_micro == 0 and out[6].mean_lp_micro == 0
    # log-probabilities are negative and sums are consistent
    for d in (1, 2, 3, 4, 5):
        assert out[d].sum_lp_micro < 0
        assert out[d].n_bigrams == len(rows[d - 1][1].split()) - 1
    # frequent seen bigrams beat rare ones beat fully-unseen text
    assert out[3].mean_lp_micro > out[4].mean_lp_micro > out[5].mean_lp_micro
    # mean is the floored per-bigram average
    r = out[3]
    assert r.mean_lp_micro == -((-r.sum_lp_micro) // r.n_bigrams)


def test_kmeans_clusters_partitions_obvious_clusters(vectors):
    out = sim.kmeans_clusters(vectors, n_centroids=4, iters=2).collect()
    # every vector lands in exactly one cell
    assert sum(r.n_members for r in out) == 40
    assert all(0 <= r.cell < 4 for r in out)
    # micro-cohesion stats are internally consistent
    for r in out:
        assert r.min_sim_micro <= r.mean_sim_micro <= 1_000_000


def test_lsh_recall_counts_are_consistent(spark):
    from eventstore_spark.operators.dedup import lsh_recall

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0),
        (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 0),
        (3, "alpha beta gamma delta epsilon zeta iota kappa", "en", "s", 0),
        (4, "completely different words over here entirely", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    r = lsh_recall(docs, threshold=0.5).collect()[0]
    # verified LSH output is a subset of the truth
    assert r.n_found <= r.n_true
    assert r.n_missed == r.n_true - r.n_found
    assert 0 <= r.recall_micro <= 1_000_000
    # identical docs are both a true and a found pair
    assert r.n_true >= 1 and r.n_found >= 1
    # empty-truth edge: unrelated docs only -> recall defined as 1.0
    solo = spark.createDataFrame(
        [rows[0], rows[3]],
        "doc_id long, text string, lang string, source string, n_chars long")
    r0 = lsh_recall(solo, threshold=0.99).collect()[0]
    assert r0.n_true == 0 and r0.recall_micro == 1_000_000


def test_knn_eval_confusion_matrix_on_separable_clusters(spark):
    import math

    # 4 tight, well-separated clusters; labels == cluster -> the matrix
    # should be (near-)diagonal for every sampled query
    rows = []
    for i in range(80):
        c = i % 4
        base = [0.0] * 8
        base[c] = 1.0
        base[4 + c] = 0.5
        jitter = [x + 0.001 * ((i * 11 + j) % 7) for j, x in enumerate(base)]
        rows.append((i, jitter, c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sim.knn_eval(emb, k=3, sample_mod=4, n_centroids=4).collect()
    assert out  # the hash gate sampled something
    total = sum(r.n for r in out)
    diag = sum(r.n for r in out if r.true_label == r.pred_label)
    assert diag == total  # perfectly separable -> perfect propagation
    assert all(0 <= r.true_label < 4 and 0 <= r.pred_label < 4 for r in out)


def test_clean_text_normalizes_and_preserves_newlines(spark):
    from eventstore_spark.operators.textops import clean_text

    rows = [
        (1, "plain stays", "en", "s", 0),
        (2, "curly ‘q’ “d” em—dash nb space "
            "zero​width ell… ctrl\x01x  runs", "en", "s", 0),
        (3, "line one\nline two", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in clean_text(docs).collect()}
    assert out[1].clean_text == "plain stays" and not out[1].changed
    c = out[2].clean_text
    assert c == "curly 'q' \"d\" em-dash nb space zerowidth ell... ctrlx runs"
    assert out[2].changed and out[2].orig_chars >= out[2].clean_chars
    assert out[3].clean_text == "line one\nline two"  # newlines survive


def test_ngram_jaccard_max_df_keeps_exact_values_for_survivors(spark):
    from eventstore_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        # docs 1/2 share a rare run; every doc shares the hot prefix
        (1, "common common common common alpha beta gamma delta", "en", "s", 0),
        (2, "common common common common alpha beta gamma epsilon", "en", "s", 0),
        (3, "common common common common zeta eta theta iota", "en", "s", 0),
        (4, "common common common common kappa lam mu nu", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    exact = {(r.a, r.b): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    capped = {(r.a, r.b): r.jaccard
              for r in ngram_jaccard_pairs(docs, threshold=0.0, max_df=3).collect()}
    # survivors keep their EXACT jaccard (verify runs on the full sets)
    for pair, jac in capped.items():
        assert abs(jac - exact[pair]) < 1e-12
    # the (1,2) pair survives via its sub-cap rare shingles
    assert (1, 2) in capped
    # pairs overlapping ONLY on the ubiquitous prefix drop out
    assert (3, 4) in exact and (3, 4) not in capped


def test_bm25_empty_query_and_quoted_terms_cross_engine(spark, tmp_path):
    """ADVICE r9: an empty/whitespace query must yield zero rows on BOTH
    engines (the SQL twin used to render the invalid 't IN ()'), and a
    term containing a single quote must not break the SQL statement."""
    import duckdb

    from eventstore_spark.operators.textops import bm25_search, sql_bm25_search

    rows = [
        (1, "o'brien wrote code", "en", "s", 0),
        (2, "plain text here entirely", "en", "s", 0),
        (3, "code and more code here", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    path = str(tmp_path / "docs_parq")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")

    empty = bm25_search(docs, "   ")
    assert empty.columns == ["doc_id", "score_micro", "rank"]
    assert empty.count() == 0
    assert con.execute(sql_bm25_search("   ")).fetchdf().empty

    got = {
        (r.doc_id, r.score_micro, r.rank)
        for r in bm25_search(docs, "o'brien code", k=10).collect()
    }
    odf = con.execute(sql_bm25_search("o'brien code", k=10)).fetchdf()
    assert {(int(a), int(b), int(c))
            for a, b, c in odf.itertuples(index=False)} == got
    assert any(r[0] == 1 for r in got)  # the quoted term actually matched


def test_line_dedup_regex_metachar_separator_cross_engine(spark, tmp_path):
    """ADVICE r9: Spark's F.split takes a Java regex while DuckDB's
    string_split is literal — a '|' separator must split literally on
    both engines (it used to split between every character on Spark)."""
    import duckdb

    from eventstore_spark.operators.corpus import line_dedup, sql_line_dedup

    rows = [
        (1, "SHARED CHROME|unique body one|SHARED FOOTER", "en", "s", 0),
        (2, "SHARED CHROME|another body here|SHARED FOOTER", "en", "s", 0),
        (3, "SHARED CHROME|third doc body|SHARED FOOTER", "en", "s", 0),
        (4, "no separator at all", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
           for r in line_dedup(docs, min_docs=3, sep="|").collect()}
    assert got[1] == ("unique body one", 3, 2)
    assert got[4] == ("no separator at all", 1, 0)

    path = str(tmp_path / "docs_parq")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    odf = con.execute(sql_line_dedup(min_docs=3, sep="|")).fetchdf()
    oracle = {int(r.doc_id): (r.clean_text, int(r.n_lines), int(r.n_removed))
              for r in odf.itertuples(index=False)}
    assert oracle == got


def test_ngram_jaccard_warns_on_hot_shingles_by_default(spark):
    """r10 scale valve: the exact default must measure df and warn when a
    shingle's document frequency crosses the bound (the Σdf² quadratic
    regime, PLANS.md §"Zipf df measurement") — and stay silent on
    diverse corpora and when the probe is explicitly disabled."""
    import warnings as w

    from eventstore_spark.operators.dedup import ngram_jaccard_pairs

    hot = [(i, "the quick brown fox jumps", "en", "s", 0) for i in range(12)]
    hot_docs = spark.createDataFrame(
        hot, "doc_id long, text string, lang string, source string, n_chars long")
    with pytest.warns(RuntimeWarning, match="max_df"):
        ngram_jaccard_pairs(hot_docs, warn_df_above=5)

    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)
        # diverse corpus: no shingle is shared, no warning
        div = [(i, f"w{i}a w{i}b w{i}c w{i}d", "en", "s", 0) for i in range(12)]
        div_docs = spark.createDataFrame(
            div, "doc_id long, text string, lang string, source string, n_chars long")
        ngram_jaccard_pairs(div_docs, warn_df_above=5)
        # probe disabled: silent even on the saturated corpus
        ngram_jaccard_pairs(hot_docs, warn_df_above=None)


def test_html_extract_text_semantics(spark):
    """r10 HTML extraction: script/style/comment blocks vanish, block
    boundaries become newlines, tags separate words, entities decode
    exactly one level (&amp;lt; stays &lt;), whitespace tidied."""
    from eventstore_spark.operators.textops import html_extract_text

    html = (
        '<html><head><style type="text/css">h1 {x: y}</style></head>'
        "<body><!-- chrome --><h1>Title</h1>"
        "<p>one &amp;lt; two</p>"
        '<script>var s = "<p>not text</p>";</script>'
        "<ul><li>a</li><li>b</li></ul>"
        "<span>inline</span>-joined tail &amp; more &nbsp;x</body></html>"
    )
    rows = [(1, html, "en", "s", 0),
            (2, "plain text, no markup", "en", "s", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: r for r in html_extract_text(docs).collect()}
    assert got[1].extracted == (
        "Title\none &lt; two\na\nb\ninline -joined tail & more x")
    assert got[2].extracted == "plain text, no markup"
    assert got[1].html_chars == len(html)
    assert got[1].text_chars == len(got[1].extracted)


def test_url_normalize_semantics(spark):
    """r10 URL canonicalization: fragment/tracking-param/default-port
    stripping, scheme+authority lowercasing with path case PRESERVED,
    www-stripped host and last-two-label domain."""
    from eventstore_spark.operators.corpus import url_normalize

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Articles/X?utm_source=a&id=3&gclid=z#top"),
        (2, "http://sub.site.org:80/Path"),
        (3, "http://plain.net/p?a=1&b=2"),
        (4, "not a url at all"),
        (5, "https://x.io/?utm_a=1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in url_normalize(docs).collect()}
    assert got[1].url_norm == "https://www.example.com/Articles/X?id=3"
    assert got[1].host == "example.com" and got[1].domain == "example.com"
    assert got[2].url_norm == "http://sub.site.org/Path"
    assert got[2].host == "sub.site.org" and got[2].domain == "site.org"
    assert got[3].url_norm == "http://plain.net/p?a=1&b=2" and not got[3].changed
    assert got[4].url_norm == "not a url at all" and got[4].host == ""
    assert got[5].url_norm == "https://x.io/"  # empty query dropped


def test_dedup_doc_lines_keeps_first_in_place(spark):
    from eventstore_spark.operators.corpus import dedup_doc_lines

    rows = [
        (1, "alpha\nbeta\nalpha\ngamma\nbeta", "en", "s", 0),
        (2, "unique only", "en", "s", 0),
        (3, "x\nx\nx", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
           for r in dedup_doc_lines(docs).collect()}
    assert got[1] == ("alpha\nbeta\ngamma", 5, 2)
    assert got[2] == ("unique only", 1, 0)
    assert got[3] == ("x", 3, 2)


def test_ivfpq_probes_only_and_finds_neighbors(spark):
    """r10 IVFADC: candidates come ONLY from probed cells, ranks are
    dense per query, and on a well-clustered corpus the top hit is the
    query's true cluster-mate."""
    import math

    from eventstore_spark.operators.similarity import ivfpq_topk

    # 4 tight clusters of 8 vectors in 16 dims
    rows = []
    for c in range(4):
        for i in range(8):
            vec = [0.0] * 16
            vec[c * 4] = 1.0
            vec[c * 4 + 1] = 0.1 * i
            vec[(c * 4 + 2) % 16] = 0.05
            rows.append((c * 8 + i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivfpq_topk(emb, query_ids=[0, 9, 17], k=5,
                     n_centroids=4, nprobe=2, m=4, n_codes=4).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, len(rs) + 1))
        assert all(r.adist >= 0 for r in rs)
        # the nearest hit is a member of the query's own cluster
        top = min(rs, key=lambda r: (r.adist, r.vec_id))
        assert top.vec_id // 8 == q // 8, (q, top)


def test_ivfpq_index_roundtrip_matches_oneshot_and_prunes(spark, tmp_path):
    """r10 persisted IVFADC: build/query split returns IDENTICAL results
    to the one-shot operator, and the query's code scans carry the cell
    partition filter (only probed directories are opened)."""
    from eventstore_spark.operators.similarity import (build_ivfpq_index,
                                                       ivfpq_topk,
                                                       ivfpq_topk_indexed)

    rows = []
    for c in range(4):
        for i in range(8):
            vec = [0.0] * 16
            vec[c * 4] = 1.0
            vec[c * 4 + 1] = 0.1 * i
            rows.append((c * 8 + i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one = sorted(map(tuple, ivfpq_topk(
        emb, [0, 9], k=5, n_centroids=4, nprobe=2, m=4, n_codes=4).collect()))

    path = str(tmp_path / "ivfpq")
    info = build_ivfpq_index(emb, path, n_centroids=4, m=4, n_codes=4)
    assert info["vectors_indexed"] == 32 and info["m"] == 4

    idx = ivfpq_topk_indexed(spark, path, emb, [0, 9], k=5, nprobe=2)
    assert sorted(map(tuple, idx.collect())) == one

    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan or \
           "PartitionFilters: [(cell" in plan or "cell#" in plan.split(
               "PartitionFilters")[1][:120]


# ---------------------------------------------------------------------------
# Packed-corpus sink (r10 s2)
# ---------------------------------------------------------------------------

def test_write_packed_corpus_roundtrip_and_prunes(spark, tmp_path):
    """The shard layout must reproduce sequence_pack's placement exactly
    (contiguous positions, additive token offsets), its summary must
    account for every doc/token, and a single-shard read must prune the
    other shard directories at the scan (PartitionFilters)."""
    from eventstore_spark.operators.corpus import (read_packed_shard,
                                                   sequence_pack,
                                                   write_packed_corpus)

    rows = [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "packed")
    info = write_packed_corpus(docs, path, ctx_tokens=32, num_shards=4)
    assert info["n_docs"] == 60
    assert info["n_tokens"] == sum((i * 7) % 23 + 1 for i in range(60))

    placed = {r.doc_id: r for r in sequence_pack(
        docs, ctx_tokens=32, num_shards=4).collect()}
    seen = 0
    for shard in range(4):
        part = read_packed_shard(spark, path, shard).collect()
        # contiguous positions, additive offsets, placement identical
        off = 0
        for pos, r in enumerate(part, start=1):
            assert r.position == pos
            assert r.tok_start == off
            off += r.n_tokens
            p = placed[r.doc_id]
            assert (r.shard, r.position, r.tok_start, r.n_tokens) == (
                p.shard, p.position, p.tok_start, p.n_tokens)
        seen += len(part)
    assert seen == 60

    plan = read_packed_shard(spark, path, 2)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:160]
    assert "shard" in tail


def test_block_manifest_tiles_documents_and_blocks(spark):
    """Per doc: the slices across its blocks must tile [0, n_tokens)
    contiguously. Per (shard, block): slice widths must sum to exactly
    ctx_tokens for every block but each shard's last — the invariant
    that makes the manifest a valid batch read plan."""
    from eventstore_spark.operators.corpus import block_manifest

    ctx = 16
    rows = [(i, " ".join(f"w{j}" for j in range((i * 5) % 37)))
            for i in range(80)]  # includes empty docs (i*5 % 37 == 0)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    man = block_manifest(docs, ctx_tokens=ctx, num_shards=4).collect()

    by_doc: dict[int, list] = {}
    by_block: dict[tuple, int] = {}
    last_block: dict[int, int] = {}
    for r in man:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_block[(r.shard, r.block)] = by_block.get(
            (r.shard, r.block), 0) + (r.tok_to - r.tok_from)
        last_block[r.shard] = max(last_block.get(r.shard, -1), r.block)
    assert len(by_doc) == 80
    for doc_id, parts in by_doc.items():
        parts.sort(key=lambda r: r.block)
        n_tokens = parts[0].n_tokens
        if n_tokens == 0:
            assert len(parts) == 1
            assert (parts[0].tok_from, parts[0].tok_to) == (0, 0)
            continue
        assert parts[0].tok_from == 0
        assert parts[-1].tok_to == n_tokens
        for a, b in zip(parts, parts[1:]):
            assert a.tok_to == b.tok_from
    for (shard, block), width in by_block.items():
        if block != last_block[shard]:
            assert width == ctx, (shard, block, width)


def test_bloom_index_roundtrip_and_append(spark, docs, tmp_path_factory):
    """Persisted-Bloom equivalence: probing a new batch against the
    stored index must equal the one-shot operator's history fold, the
    no-false-negative law must hold, and APPENDING a batch must make its
    duplicates visible to later probes."""
    idx = str(tmp_path_factory.mktemp("bloomidx") / "index")
    hist = docs.where("doc_id % 3 != 0")
    new = docs.where("doc_id % 3 = 0")

    stats = dd.build_bloom_index(hist, idx, m_bits=512, k=4)
    assert stats["docs_indexed"] == hist.count()

    got = {r.doc_id: (r.maybe_dup, r.is_dup)
           for r in dd.bloom_probe_indexed(new, spark, idx,
                                           m_bits=512, k=4).collect()}
    one_shot = {r.doc_id: (r.maybe_dup, r.is_dup)
                for r in dd.bloom_dedup_incremental(
                    docs, split_mod=3, m_bits=512, k=4).collect()}
    assert got == one_shot
    for maybe, is_dup in got.values():
        assert maybe or not is_dup

    # doc 6 is a normalized dup of docs 1/2 (history side) — exact hit
    assert got[6] == (True, True)

    # append the new batch; re-probing IT must now flag every doc as an
    # exact dup of itself
    dd.build_bloom_index(new, idx, m_bits=512, k=4)
    again = {r.doc_id: (r.maybe_dup, r.is_dup)
             for r in dd.bloom_probe_indexed(new, spark, idx,
                                             m_bits=512, k=4).collect()}
    assert all(v == (True, True) for v in again.values())


def test_bloom_fallback_join_matches_broadcast_path(spark, docs, tmp_path_factory):
    """Above max_broadcast_positions the probe switches from k broadcast
    joins to one position-keyed shuffle join (the 1e12-key regime where
    the filter no longer fits a broadcast) — results must be identical
    bit-for-bit, including duplicate-position docs (ALL k hashes must
    hit even when two land on the same bit)."""
    want = {r.doc_id: (r.maybe_dup, r.is_dup)
            for r in dd.bloom_dedup_incremental(
                docs, split_mod=3, m_bits=512, k=4).collect()}
    got = {r.doc_id: (r.maybe_dup, r.is_dup)
           for r in dd.bloom_dedup_incremental(
               docs, split_mod=3, m_bits=512, k=4,
               max_broadcast_positions=0).collect()}
    assert got == want

    idx = str(tmp_path_factory.mktemp("bloomfb") / "index")
    hist = docs.where("doc_id % 3 != 0")
    new = docs.where("doc_id % 3 = 0")
    dd.build_bloom_index(hist, idx, m_bits=512, k=4)
    want = {r.doc_id: (r.maybe_dup, r.is_dup)
            for r in dd.bloom_probe_indexed(new, spark, idx,
                                            m_bits=512, k=4).collect()}
    got = {r.doc_id: (r.maybe_dup, r.is_dup)
           for r in dd.bloom_probe_indexed(
               new, spark, idx, m_bits=512, k=4,
               max_broadcast_positions=0).collect()}
    assert got == want
