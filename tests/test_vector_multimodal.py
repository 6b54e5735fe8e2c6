"""Vector-indexer (V1-V3) and multimodal plumbing tests."""

from __future__ import annotations

import pytest

from vectra_player_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    image_features,
    rebalance_by_bytes,
    sample_video_frames,
)
from vectra_player_spark.operators.vector_index import (
    VectorIndexer,
    chunk_events,
    embed_chunks,
)


def _envelope(spark, n, ts_prefix="2026-01-10T00"):
    rows = [
        {
            "session_id": "s1",
            "seq": i,
            "ts": f"{ts_prefix}:{i:02d}:00+00:00",
            "doc_type": "game_tick",
            "game_id": f"g{i % 3}",
            "tick": i,
            "price": str(1.0 + i),
            "username": None,
            "player_id": None,
            "action_type": None,
            "event_name": None,
        }
        for i in range(n)
    ]
    schema = (
        "session_id string, seq long, ts string, doc_type string, game_id string, "
        "tick long, price string, username string, player_id string, "
        "action_type string, event_name string"
    )
    return spark.createDataFrame(rows, schema)


def test_chunk_and_embed(spark):
    env = _envelope(spark, 5)
    chunks = chunk_events(env)
    assert chunks.columns == ["chunk_id", "ts", "doc_type", "text"]
    embedded = embed_chunks(chunks)
    rows = embedded.collect()
    assert all(len(r.embedding) == 64 for r in rows)
    norms = [sum(x * x for x in r.embedding) for r in rows]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)  # L2-normalized
    # determinism: same text -> same vector
    again = {r.chunk_id: r.embedding for r in embed_chunks(chunks).collect()}
    assert all(again[r.chunk_id] == r.embedding for r in rows)


def test_incremental_build_and_checkpoint(spark, tmp_path):
    idx = VectorIndexer(str(tmp_path / "index"))
    n1 = idx.build_incremental(_envelope(spark, 5))
    assert n1 == 5
    # re-run with no new data: checkpoint prevents reindexing
    assert idx.build_incremental(_envelope(spark, 5)) == 0
    # newer events get picked up incrementally
    n2 = idx.build_incremental(_envelope(spark, 8))  # seq 5..7 newer ts
    assert n2 == 3
    vecs = spark.read.parquet(str(tmp_path / "index" / "vectors"))
    assert vecs.count() == 8
    # V3 rebuild: full reset then reindex everything
    assert idx.rebuild(_envelope(spark, 8)) == 8
    assert spark.read.parquet(str(tmp_path / "index" / "vectors")).count() == 8


def test_search_returns_relevant_chunk(spark, tmp_path):
    idx = VectorIndexer(str(tmp_path / "index"))
    idx.build_incremental(_envelope(spark, 6))
    hits = idx.search(spark, "game g1 tick", top_k=3).collect()
    assert len(hits) == 3
    assert all(h.score > 0 for h in hits)
    assert "g1" in hits[0].text  # token overlap ranks g1 chunks first


def test_ivf_kmeans_recall_meets_target(spark, sf_dir):
    """V4 scale path: k-means IVF recall@10 vs brute force. The synthetic
    embeddings are near-uniform (IVF's worst case, recall ≈ nprobe/cells);
    0.65 leaves seed margin below the measured 0.78 @ nprobe 8/16."""
    from vectra_player_spark import plans

    row = plans.QUERIES["knn_ivf_kmeans_recall"].spark_fn(spark, sf_dir).collect()[0]
    assert row.n_queries == 50
    assert row.mean_recall >= 0.65, row


def test_ivfpq_composed_recall_and_containment(spark, sf_dir):
    """V4 serving composition (round-8): IVF routing over PQ codes. The
    registered recall query beats a floor (0.40 leaves margin under the
    measured 0.458 — composing the two worst-case approximations
    multiplies their losses, so the floor sits below both parents') and
    reports the exact knob set. Routed == direct is covered by
    test_sigstore's ROUTED cycle."""
    from vectra_player_spark import plans

    row = plans.QUERIES["knn_ivfpq_adc_recall"].spark_fn(spark, sf_dir).collect()[0]
    assert row.n_queries == 50
    assert row.mean_recall >= 0.40, row
    assert (row.nprobe, row.n_cells, row.m_subspaces, row.n_codes) == (8, 16, 8, 64)


def test_pq_adc_recall_and_roundtrip(spark, sf_dir):
    """V4 compression tier: product quantization. Two properties: (1) the
    registered recall query beats a floor (0.30 leaves seed margin under
    the measured 0.45 @ m=8/64 codes on near-uniform vectors — PQ's worst
    case); (2) encoding is self-consistent — a codebook CENTROID encodes
    to its own code and ADC-scores itself at cosine ≈ 1."""
    from vectra_player_spark import plans
    from vectra_player_spark.operators.knn import pq_encode, pq_topk_adc

    row = plans.QUERIES["knn_pq_adc_recall"].spark_fn(spark, sf_dir).collect()[0]
    assert row.n_queries == 50
    assert row.mean_recall >= 0.30, row
    assert row.compression_x == 32.0

    # Tiny deterministic codebook: 2 subspaces × 2 codes × 2 dims.
    cb = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 1.0], [-1.0, 1.0]],
    ]
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0, 1.0]), (2, [0.0, 1.0, -1.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    codes = {r.vec_id: (list(r.codes), r.vhat_norm) for r in pq_encode(vecs, cb).collect()}
    assert codes[1][0] == [0, 0] and codes[2][0] == [1, 1]
    top = pq_topk_adc(vecs.where("vec_id = 1"), pq_encode(vecs, cb), cb, k=1).collect()
    # vector 1 IS codebook cell (0,0); its own code row is excluded, so its
    # nearest neighbor is vector 2 with the exact ADC cosine of cb codes.
    assert top[0].neighbor_id == 2


def test_ivfpq_kernel_cell_restriction_and_score_parity(spark):
    """ivfpq_topk kernel semantics on tiny deterministic inputs: (1) with
    nprobe=1 only the query's own cell's candidates are scored — a
    better-scoring vector in the unprobed cell is invisible (the IVF
    restriction, by construction); (2) scores of surviving pairs equal
    unrestricted pq_topk_adc's for the same codebook (same ADC lookup
    expressions); (3) nprobe=n_cells recovers the unrestricted ranking."""
    from vectra_player_spark.operators.knn import ivfpq_topk, pq_encode, pq_topk_adc

    cb = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 1.0], [-1.0, 1.0]],
    ]
    # cell 0 ≈ +x queries, cell 1 ≈ +y: vec 1 (query) and 3 in cell 0;
    # vec 2 — an EXACT duplicate of vec 1, the true nearest — in cell 1.
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0, 1.0]), (1, [0.0, 1.0, -1.0, 1.0])],
        "cell_id int, centroid array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 1.0, 1.0]),
            (2, [1.0, 0.0, 1.0, 1.0]),
            (3, [0.6, 0.4, 1.0, 0.8]),
        ],
        "vec_id int, embedding array<double>",
    )
    assignments = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 0)], "vec_id int, cell_id int"
    )
    codes = pq_encode(vecs, cb)
    q = vecs.where("vec_id = 1")

    probed1 = ivfpq_topk(q, centroids, assignments, codes, cb, k=2, nprobe=1).collect()
    assert [r.neighbor_id for r in probed1] == [3]  # cell-1 dup invisible

    full = {r.neighbor_id: r.cosine_sim for r in pq_topk_adc(q, codes, cb, k=2).collect()}
    assert probed1[0].cosine_sim == full[3]  # identical ADC arithmetic

    probed2 = ivfpq_topk(q, centroids, assignments, codes, cb, k=2, nprobe=2).collect()
    assert {r.neighbor_id: r.cosine_sim for r in probed2} == full


def test_image_features_stub(spark):
    rows = [
        ("m1", "image", b"\x89PNG fake bytes", "image/png", {}),
        ("m2", "image", b"\xff\xd8 other fake", "image/jpeg", {}),
        ("m3", "audio", b"RIFF", "audio/wav", {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert set(feats) == {"m1", "m2"}  # audio row filtered out
    assert feats["m1"].n_bytes == 15
    assert 64 <= feats["m1"].width < 1088
    # determinism
    again = {r.media_id: r for r in image_features(media).collect()}
    assert again["m1"].phash == feats["m1"].phash


def test_video_frame_sampling_stub(spark):
    rows = [("v1", "video", b"fake mp4", "video/mp4", {"duration_ms": "3500"})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_video_frames(media, every_ms=1000).collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2, 3]
    assert frames[-1].frame_ts_ms == 3000
    assert len({f.frame_digest for f in frames}) == 4


def test_rebalance_by_bytes(spark):
    rows = [(f"m{i}", "image", b"x" * 1000, "image/png", {}) for i in range(50)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = rebalance_by_bytes(media, target_partition_bytes=10_000)
    assert out.rdd.getNumPartitions() >= 5
    assert out.count() == 50


def test_int8_quantizer_matches_numpy_reference(spark, tmp_path):
    """embedding_int8_quantize vs a numpy reference of the same formula:
    codes exactly equal, all within [0, 255], per-element reconstruction
    error bounded by half a quantization step, MSE matching to 1e-6."""
    import numpy as np
    import pandas as pd

    from vectra_player_spark.plans.queries_vector import embedding_int8_quantize

    rng = np.random.default_rng(7)
    vecs = [rng.normal(size=16).astype("float32") for _ in range(40)]
    vecs.append(np.zeros(16, dtype="float32"))          # degenerate hi == lo
    vecs.append(np.full(16, 3.25, dtype="float32"))     # constant nonzero
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs],
         "label": [0] * len(vecs)}
    )
    path = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(path + "/embeddings.parquet")
    out = {r["vec_id"]: r for r in embedding_int8_quantize(spark, path).collect()}

    for i, v in enumerate(vecs):
        v = v.astype("float64")
        lo, hi = float(v.min()), float(v.max())
        if hi == lo:
            q = np.zeros(len(v), dtype="int64")
            mse = 0.0
        else:
            q = np.floor((v - lo) * 255.0 / (hi - lo) + 0.5).astype("int64")
            deq = lo + q * (hi - lo) / 255.0
            mse = float(np.mean((deq - v) ** 2))
        row = out[i]
        assert row["code_sum"] == int(q.sum()), i
        assert 0 <= q.min() and q.max() <= 255, i
        assert abs(row["mse"] - round(mse, 6)) <= 1e-6, i
        if hi != lo:
            step = (hi - lo) / 255.0
            deq = lo + q * (hi - lo) / 255.0
            assert np.max(np.abs(deq - v)) <= step / 2 + 1e-12, i


def test_phash_band_stats_crafted_neardups(spark):
    """The hamming<=3 verify path end to end: two identical payloads share
    all 4 bands (hamming 0 -> counted), a hash differing ONLY in the last
    hex nibble collides on bands 0-2 and lands at hamming<=4-but-not-0 —
    crafted to sit exactly at distance 3 so the threshold keeps it — and
    an unrelated hash contributes buckets but no accepted pair."""
    from vectra_player_spark.plans.queries_multimodal import phash_band_stats

    base = "00000000000000ff"
    near = "00000000000000f8"  # last nibble f->8: xor 0x7 = 3 bits
    far_ = "123456789abcdef0"
    ph = spark.createDataFrame(
        [("a", base), ("b", base), ("c", near), ("d", far_)],
        "media_id string, phash string",
    )
    rows = {r["scope"]: r for r in phash_band_stats(ph).collect()}
    # bands 0-2: a,b,c collide (C(3,2)=3 pairs each); band 3: only a,b
    for i in range(3):
        assert rows[f"band{i}"]["n_candidate_pairs"] == 3
    assert rows["band3"]["n_candidate_pairs"] == 1
    # distinct candidate union = {ab, ac, bc}; ab at 0, ac/bc at 3 -> all kept
    assert rows["all"]["n_candidate_pairs"] == 3
    assert rows["all"]["n_neardup_pairs"] == 3
    # tighten the threshold: only the exact duplicate survives
    rows2 = {r["scope"]: r for r in phash_band_stats(ph, max_hamming=2).collect()}
    assert rows2["all"]["n_neardup_pairs"] == 1


def test_leakage_safe_split_crafted_cluster(spark, tmp_path):
    """A near-dup cluster whose members' doc-id coins straddle the naive
    cut must land on ONE side under the safe split; the audit's safe row
    must be 0 leaked pairs while naive leaks the crafted cluster."""
    import pyspark.sql.functions as F

    from vectra_player_spark.plans.queries_classify import (
        doc_leakage_safe_split,
        doc_split_leakage_audit,
    )
    from vectra_player_spark import plans

    # Build a tiny lake: 40 docs, ids 0..39; ids 0..9 share one text (an
    # exact-dup cluster -> one canonical), the rest unique.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, shared if i < 10 else f"doc {i} " + " ".join(
        f"w{i}{j}" for j in range(8)), "en", "src0", 40) for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    split = plans.QUERIES["doc_leakage_safe_split"].spark_fn(
        spark, str(tmp_path)
    ).collect()
    by_id = {r["doc_id"]: r for r in split}
    cluster = [by_id[i] for i in range(10)]
    # all cluster members share the canonical id and the safe side
    assert len({r["canonical_id"] for r in cluster}) == 1
    assert len({r["safe_split"] for r in cluster}) == 1
    audit = {
        r["scheme"]: r
        for r in plans.QUERIES["doc_split_leakage_audit"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert audit["safe"]["leaked_pairs"] == 0
    # naive leaks iff the cluster's 10 doc-id coins straddle 0.9 — with
    # these ids they do (checked here so the assertion is honest, not
    # assumed from randomness)
    naive_sides = {r["naive_split"] for r in cluster}
    if len(naive_sides) == 2:
        assert audit["naive"]["leaked_pairs"] > 0
    assert (
        audit["naive"]["n_train"] + audit["naive"]["n_heldout"]
        == audit["safe"]["n_train"] + audit["safe"]["n_heldout"]
        == 40
    )


def test_wav_features_hand_packed_container(spark):
    """The real WAV decoder must parse a RIFF container built byte-by-byte
    with struct.pack — NOT one written by the same stdlib `wave` module
    the decoder uses — and recover rate, frame count, duration and RMS
    from the actual PCM payload (incl. a non-canonical header with an
    extra chunk before 'data')."""
    import hashlib
    import math
    import struct

    from vectra_player_spark.operators.multimodal import wav_features

    samples = [0, 1000, -1000, 32767, -32768, 5, -5, 250]
    rate = 16000
    pcm = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    # LIST chunk between fmt and data: real-world WAVs carry metadata
    # chunks; a header walk that assumes data at offset 36 breaks here.
    lst = b"INFO" + b"IART" + struct.pack("<I", 4) + b"test"
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", len(lst)) + lst
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body

    media = spark.createDataFrame(
        [("m1", "audio", bytearray(wav), "audio/wav", None)],
        "media_id string, kind string, content binary, mime string, "
        "meta map<string,string>",
    )
    row = wav_features(media).collect()[0]
    assert row["n_bytes"] == len(wav)
    assert row["sample_rate"] == rate
    assert row["n_samples"] == len(samples)
    assert row["duration_ms"] == len(samples) * 1000 // rate
    expect_rms = round(
        math.sqrt(sum(s * s for s in samples) / len(samples)), 6
    )
    assert row["rms"] == expect_rms
    assert (
        row["pcm_digest"]
        == hashlib.md5(",".join(map(str, samples)).encode()).hexdigest()[:16]
    )


def test_wav_features_rejects_unwired_formats(spark):
    """Stereo / non-16-bit payloads must fail loudly at the documented
    seam, never silently mis-decode."""
    import io
    import wave as wavemod

    import pytest as _pytest

    from vectra_player_spark.operators.multimodal import wav_features

    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00" * 4)
    media = spark.createDataFrame(
        [("m1", "audio", bytearray(buf.getvalue()), "audio/wav", None)],
        "media_id string, kind string, content binary, mime string, "
        "meta map<string,string>",
    )
    with _pytest.raises(Exception, match="mono PCM16"):
        wav_features(media).collect()


def test_bmp_features_honors_pixel_offset_and_rejects_unwired(spark):
    """The BMP decoder must read the pixel array at the OFFSET the file
    header declares (an optional gap after the info header is legal),
    un-flip bottom-up rows, and strip row padding; 8-bit payloads raise
    at the seam."""
    import hashlib
    import struct

    import numpy as np
    import pytest as _pytest

    from vectra_player_spark.operators.multimodal import bmp_features

    w, h = 3, 2  # w*3=9 -> pad 3: exercises the padding strip
    gray = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)  # top-down
    pad = (4 - (w * 3) % 4) % 4
    rows_b = []
    for row in gray[::-1]:  # stored bottom-up
        rows_b.append(
            b"".join(bytes([v, v, v]) for v in row) + b"\xAA" * pad
        )
    pixel_bytes = b"".join(rows_b)
    gap = b"\xEE" * 6  # 6-byte gap between headers and pixels
    offset = 54 + len(gap)
    hdr = struct.pack(
        "<2sIHHI", b"BM", offset + len(pixel_bytes), 0, 0, offset
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0
    )
    content = hdr + gap + pixel_bytes
    media = spark.createDataFrame(
        [("m1", "image", bytearray(content), "image/bmp", None)],
        "media_id string, kind string, content binary, mime string, "
        "meta map<string,string>",
    )
    row = bmp_features(media).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    assert row["n_bytes"] == len(content)
    assert row["mean_luma"] == round(float(gray.sum()) / (w * h), 6)
    expect = hashlib.md5(
        ",".join(str(int(v)) for v in gray.reshape(-1)).encode()
    ).hexdigest()[:16]
    assert row["pix_digest"] == expect

    bad_hdr = struct.pack("<2sIHHI", b"BM", 62, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, 8, 2835, 2835, 0, 0
    )
    bad = spark.createDataFrame(
        [("m2", "image", bytearray(bad_hdr + b"\x00" * 8), "image/bmp", None)],
        media.schema,
    )
    with _pytest.raises(Exception, match="24-bit"):
        bmp_features(bad).collect()


def test_y4m_frame_stats_foreign_tags_and_rejects_c444(spark):
    """The y4m parser must tolerate header tags it doesn't use (Xapp
    extensions, frame rate variants) and step multiple frames; non-420
    colorspaces raise at the seam."""
    import hashlib

    import numpy as np
    import pytest as _pytest

    from vectra_player_spark.operators.multimodal import y4m_frame_stats

    w, h = 4, 2
    f0 = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    f1 = (f0 + 100).astype(np.uint8)
    chroma = bytes((w // 2) * (h // 2))
    payload = (
        f"YUV4MPEG2 W{w} H{h} F30000:1001 It A128:117 C420jpeg XYSCSS=420JPEG\n".encode()
        + b"FRAME\n" + f0.tobytes() + chroma + chroma
        + b"FRAME\n" + f1.tobytes() + chroma + chroma
    )
    media = spark.createDataFrame(
        [("m1", "video", bytearray(payload), "video/x-yuv4mpeg", None)],
        "media_id string, kind string, content binary, mime string, "
        "meta map<string,string>",
    )
    rows = sorted(
        y4m_frame_stats(media).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 1]
    for r, plane in zip(rows, (f0, f1)):
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_y"] == round(float(plane.sum()) / (w * h), 6)
        assert r["y_digest"] == hashlib.md5(
            ",".join(str(int(v)) for v in plane.reshape(-1)).encode()
        ).hexdigest()[:16]

    c444 = (
        f"YUV4MPEG2 W{w} H{h} F25:1 C444\n".encode()
        + b"FRAME\n" + f0.tobytes() * 3
    )
    bad = spark.createDataFrame(
        [("m2", "video", bytearray(c444), "video/x-yuv4mpeg", None)],
        media.schema,
    )
    with _pytest.raises(Exception, match="C420"):
        y4m_frame_stats(bad).collect()


def test_unicode_nfc_probe_cases(spark, sf_dir):
    """The NFC stage must compose decomposed accents, canonicalize mark
    ordering, compose Hangul jamo, map the Angstrom singleton — and leave
    NFC-invariant forms (ligatures, full-width, precomposed) untouched."""
    import unicodedata

    from vectra_player_spark import plans
    from vectra_player_spark.plans.queries_text import _nfc_probe_rows

    rows = {
        r["doc_id"]: r
        for r in plans.QUERIES["doc_unicode_nfc"]
        .spark_fn(spark, sf_dir)
        .where("slice = 'probe'")
        .collect()
    }
    for did, text in _nfc_probe_rows():
        expect = unicodedata.normalize("NFC", text)
        r = rows[did]
        assert r["changed"] == (expect != text), text
        assert r["n_chars_raw"] == len(text)
        assert r["n_chars_nfc"] == len(expect)
    # the composition cases genuinely change; the invariant cases don't
    assert sum(1 for r in rows.values() if r["changed"]) == 6
    assert sum(1 for r in rows.values() if not r["changed"]) == 4
    # the real (ASCII) lake is a wall of no-ops — honest baseline
    real = (
        plans.QUERIES["doc_unicode_nfc"]
        .spark_fn(spark, sf_dir)
        .where("slice = 'real'")
    )
    assert real.where("changed").count() == 0


def test_nfc_dedup_report_collapses_composition_variants(spark, sf_dir):
    """The NFC fingerprint must merge exactly the probe's three
    composition-variant groups (2+3+2 docs) that the raw fingerprint
    keeps apart; both arms count the same docs."""
    from vectra_player_spark import plans

    rows = {
        r["variant"]: r
        for r in plans.QUERIES["doc_nfc_dedup_report"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert rows["raw"]["n_docs"] == rows["nfc"]["n_docs"]
    assert rows["raw"]["n_groups"] - rows["nfc"]["n_groups"] == 4
    assert rows["nfc"]["n_dup_docs"] - rows["raw"]["n_dup_docs"] == 7


def test_brute_force_topk_scores_double_vectors_in_float64(spark):
    """array<double> vectors are scored in float64 end to end: every pair's
    rounded cosine and every rank equal a numpy float64 reference that
    accumulates the dot products left to right (the fold's operation
    order) and rounds half-up on the shortest repr, as Spark's round does.
    A float32 pass over the inputs moves some 6-digit cosines."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from vectra_player_spark.operators.knn import brute_force_topk

    rng = np.random.default_rng(20)
    Q = rng.standard_normal((5, 16))
    C = rng.standard_normal((200, 16))
    q_ids = list(range(10_000, 10_005))
    c_ids = list(range(200))
    schema = "vec_id long, embedding array<double>"
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(q_ids, Q)], schema
    )
    cands = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(c_ids, C)], schema
    )
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine_sim)
        for r in brute_force_topk(queries, cands, k=len(c_ids)).collect()
    )

    def l2r(a, b):
        acc = np.zeros(len(b), dtype=np.float64)
        for d in range(a.shape[-1]):
            acc += a[..., d] * b[:, d]
        return acc

    c_norm = np.sqrt(l2r(C, C))
    want = []
    for qid, q in zip(q_ids, Q):
        cos = l2r(q, C) / (np.sqrt(l2r(q[None, :], q[None, :]))[0] * c_norm)
        sims = [
            float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))
            for x in cos
        ]
        order = sorted(zip(sims, c_ids), key=lambda p: (-p[0], p[1]))
        want += [(qid, r + 1, cid, s) for r, (s, cid) in enumerate(order)]
    assert got == sorted(want)


def _fold_topk(queries, cands, k):
    """Reference top-k: the zip_with/aggregate cosine fold
    (functions.vectors.cosine) over a broadcast cross join, ranked the
    way brute_force_topk ranks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vectra_player_spark.functions.vectors import cosine

    q = queries.selectExpr("vec_id AS query_id", "embedding AS q_vec")
    c = cands.selectExpr("vec_id AS neighbor_id", "embedding AS c_vec")
    sim = F.round(cosine("q_vec", "c_vec"), 6).alias("cosine_sim")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def test_brute_force_topk_null_element_scores_null_and_ranks_last(spark):
    """A vector with a NULL element scores NULL against every query, as
    the fold does (a NULL product nulls the sum), and so ranks below every
    non-null neighbour; a query with a NULL element scores NULL against
    every candidate. NaN would sort above every double instead."""
    from vectra_player_spark.operators.knn import brute_force_topk

    schema = "vec_id long, embedding array<double>"
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (9, [0.0, None, 1.0])], schema
    )
    cands = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, None, 1.0]),
            (4, [0.0, 1.0, 0.0]),
        ],
        schema,
    )
    got = sorted(tuple(r) for r in brute_force_topk(queries, cands, k=3).collect())
    assert got == sorted(tuple(r) for r in _fold_topk(queries, cands, 3).collect())
    q0 = [r for r in got if r[0] == 0]
    assert [r[1] for r in q0] == [1, 2, 4]  # neighbour 3 (NULL) drops out
    q9 = [r for r in got if r[0] == 9]
    assert q9 == [(9, 1, None, 1), (9, 2, None, 2), (9, 3, None, 3)]

    everything = brute_force_topk(queries, cands, k=4).where("query_id = 0").collect()
    last = max(everything, key=lambda r: r.rank)
    assert (last.neighbor_id, last.cosine_sim, last.rank) == (3, None, 4)


def test_brute_force_topk_rejects_non_integral_ids(spark):
    """Ids come back as long, so a string id column is refused up front
    with an error naming the column, on either side."""
    from vectra_player_spark.operators.knn import brute_force_topk

    str_ids = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "doc_id string, embedding array<double>",
    )
    long_ids = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "doc_id long, embedding array<double>"
    )
    for queries, cands in ((str_ids, long_ids), (long_ids, str_ids)):
        with pytest.raises(ValueError, match="'doc_id'.*integral"):
            brute_force_topk(queries, cands, k=1, id_col="doc_id")
