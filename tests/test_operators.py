"""Operator-level tests for the approximate/extension operators that have no
SQL oracle: containment and recall assertions (SURVEY.md §2.6 N2/N3/N5)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """Documents plus planted exact and near duplicates."""
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    exact = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    near = (
        docs.filter((F.col("doc_id") >= 3) & (F.col("doc_id") < 6))
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
    )
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup_removes_planted_dups(spark, docs_with_dups):
    from dbt_meshify_spark.operators import exact_dedup

    total = docs_with_dups.count()
    deduped = exact_dedup(docs_with_dups, ["text"], order_by=["doc_id"])
    assert deduped.count() == total - 3  # the 3 exact copies fold away
    # keep-first: surviving ids for duplicated texts are the originals
    kept = {r.doc_id for r in deduped.filter(F.col("doc_id") < 100).collect()}
    assert {0, 1, 2} <= kept


def test_minhash_finds_planted_near_dups(spark, docs_with_dups):
    from dbt_meshify_spark.operators import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(
        docs_with_dups, min_jaccard_est=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact copies estimate at jaccard ~1.0; near copies well above 0.5
    for orig, copy in [(0, 1_000_000), (1, 1_000_001), (2, 1_000_002),
                       (3, 2_000_003), (4, 2_000_004), (5, 2_000_005)]:
        assert (orig, copy) in found, f"missing planted pair {(orig, copy)}"
    ests = {(r.id_a, r.id_b): r.jaccard_est for r in pairs}
    assert ests[(0, 1_000_000)] == 1.0


def test_minhash_estimates_track_exact_jaccard(spark):
    """On the real corpus, MinHash candidates must contain every pair whose
    exact trigram jaccard >= 0.8 (estimator error margin over the 0.5 cut)."""
    from dbt_meshify_spark.operators import minhash_candidate_pairs, ngram_jaccard_pairs
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=3, min_jaccard=0.8).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    est = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, min_jaccard_est=0.5).collect()
    }
    missing = exact - est
    assert not missing, f"minhash missed high-jaccard pairs: {missing}"


def test_priority_dedup_overrides_min_id(spark, docs_with_dups):
    """The cross-source keep rule must beat keep-min-id: when the planted
    COPY (high id) carries a better source priority than its original, the
    copy is elected keeper."""
    from dbt_meshify_spark.operators import ngram_jaccard_pairs
    from dbt_meshify_spark.operators.dedup import dedup_keep_priority

    docs = docs_with_dups.withColumn(
        "priority", F.when(F.col("doc_id") >= 1_000_000, 0).otherwise(2)
    )
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5)
    out = {r.doc_id: r for r in dedup_keep_priority(docs, pairs).collect()}
    assert out[0].kept_by == 1_000_000  # copy outranks original
    assert out[1_000_000].is_kept and not out[0].is_kept
    assert out[0].cluster_id == 0  # cluster label stays the min id


def test_keep_top_fraction_approx_tracks_exact(spark):
    """The approx-threshold scale tier (one sketch pass, no global sort)
    must select ~the same document set as the exact percent_rank tier."""
    from dbt_meshify_spark.operators.sampling import keep_top_fraction
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.sources import load_table

    scored = quality_score(load_table(spark, SF_ORACLE, "documents")).select(
        "doc_id", F.round("quality", 4).alias("quality")
    )
    exact = {r.doc_id for r in
             keep_top_fraction(scored, "quality", 0.2, "doc_id").collect()}
    approx = {r.doc_id for r in
              keep_top_fraction(scored, "quality", 0.2, "doc_id",
                                exact=False, relative_error=0.001).collect()}
    assert exact, "top-20% selection must be non-empty"
    assert len(exact & approx) >= 0.9 * len(exact)
    assert 0.8 * len(exact) <= len(approx) <= 1.2 * len(exact) + 10


def test_leakage_safe_split_keeps_clusters_together(spark, docs_with_dups):
    """Every member of a near-dup cluster must land in the SAME split (the
    whole point: no train doc's near-copy in the test set), and all splits
    must be non-trivially populated on the real corpus."""
    from dbt_meshify_spark.operators import ngram_jaccard_pairs
    from dbt_meshify_spark.operators.sampling import leakage_safe_split

    pairs = ngram_jaccard_pairs(docs_with_dups, n=3, min_jaccard=0.5)
    out = leakage_safe_split(docs_with_dups, pairs).collect()
    by_doc = {r.doc_id: r for r in out}
    for orig, copy in [(0, 1_000_000), (3, 2_000_003)]:
        assert by_doc[orig].split == by_doc[copy].split
        assert by_doc[orig].cluster_id == by_doc[copy].cluster_id
    per_cluster = {}
    for r in out:
        per_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in per_cluster.values())
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}
    # determinism: a rerun assigns identically
    again = {r.doc_id: r.split for r in
             leakage_safe_split(docs_with_dups, pairs).collect()}
    assert again == {d: r.split for d, r in by_doc.items()}


def test_incremental_neardup_probes_persisted_index(spark, docs_with_dups, tmp_path):
    """The continuous-curation shape: index the standing corpus once, write
    it to parquet, then probe a later batch against the STORED index — the
    corpus text is never re-read. Planted exact/near copies in the batch
    must resolve to their corpus originals."""
    from dbt_meshify_spark.operators import incremental_neardup_pairs, minhash_index

    corpus = docs_with_dups.filter(F.col("doc_id") < 100)
    batch = docs_with_dups.filter(F.col("doc_id") >= 1_000_000)
    sigs, bands = minhash_index(corpus, num_hashes=16, bands=8, hash_fn="md5")
    sigs.write.parquet(str(tmp_path / "sigs"))
    bands.write.parquet(str(tmp_path / "bands"))
    stored_sigs = spark.read.parquet(str(tmp_path / "sigs"))
    stored_bands = spark.read.parquet(str(tmp_path / "bands"))

    hits = incremental_neardup_pairs(
        batch, stored_bands, stored_sigs, num_hashes=16, bands=8,
        hash_fn="md5", min_jaccard_est=0.5,
    ).collect()
    found = {(r.new_id, r.dup_of): r.jaccard_est for r in hits}
    for copy, orig in [(1_000_000, 0), (1_000_001, 1), (1_000_002, 2),
                       (2_000_003, 3), (2_000_004, 4), (2_000_005, 5)]:
        assert (copy, orig) in found, f"missing planted pair {(copy, orig)}"
    assert found[(1_000_000, 0)] == 1.0  # exact copy: all slots agree


def test_simhash_zero_distance_for_exact_dups(spark, docs_with_dups):
    from dbt_meshify_spark.operators import simhash_candidate_pairs

    pairs = simhash_candidate_pairs(docs_with_dups, max_hamming=3)
    zero = {
        (r.id_a, r.id_b) for r in pairs.filter(F.col("hamming") == 0).collect()
    }
    for orig, copy in [(0, 1_000_000), (1, 1_000_001), (2, 1_000_002)]:
        assert (orig, copy) in zero


def test_lsh_ann_recall_vs_brute_force(spark):
    from dbt_meshify_spark.operators import cosine_topk, lsh_bucketed_topk
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_bucketed_topk(q, emb, k=5, num_planes=64, bands=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random 64-dim gaussian vectors are the hardest case for sign-LSH;
    # 16 bands of 4 bits must still recover a solid fraction of true top-5
    assert recall >= 0.4, f"ANN recall too low: {recall}"


def test_multimodal_feature_extraction(spark):
    from dbt_meshify_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    media = synthesize_media(docs, "doc_id", "text")
    feats = extract_features(media, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    src = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        payload = src[r.media_id].encode()
        assert r.n_bytes == len(payload)
        assert r.payload_digest == hashlib.md5(payload).hexdigest()
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-5  # normalized histogram


def test_multimodal_real_ppm_decode_and_resize(spark):
    """PPM payloads take the REAL path: header-parsed numpy decode and a
    genuine nearest-neighbor resample, round-tripped through the Spark
    resize pass — not the byte-cycling codec-gate fallback."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_ppm,
        resize_image,
        resize_media,
    )

    img = (np.arange(8 * 6 * 3, dtype=np.uint32) % 256).astype(np.uint8).reshape(8, 6, 3)
    payload = encode_ppm(img)
    assert np.array_equal(decode_image(payload), img)  # lossless round trip

    media = spark.createDataFrame(
        [(1, bytearray(payload),
          {"kind": "image", "format": "ppm", "width": 6, "height": 8,
           "duration_ms": None})],
        MEDIA_SCHEMA,
    )
    row = resize_media(media, width=3, height=4).collect()[0]
    decoded = decode_image(bytes(row.payload))
    assert decoded.shape == (4, 3, 3)
    assert np.array_equal(decoded, resize_image(img, 3, 4))
    assert row.meta.width == 3 and row.meta.height == 4
    # non-PPM payloads still flow through the deterministic fallback
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")


def test_multimodal_real_wav_audio_features(spark):
    """WAV payloads decode with the stdlib and yield REAL signal features:
    a 440 Hz sine at amplitude A has rms ~ A/sqrt(2) and zero-crossing
    rate ~ 2f/rate; a non-WAV payload yields nulls, not a crash."""
    import io
    import wave

    import numpy as np

    from dbt_meshify_spark.operators.multimodal import MEDIA_SCHEMA, audio_features

    rate, freq, amp, secs = 8000, 440.0, 12000.0, 0.5
    t = np.arange(int(rate * secs)) / rate
    samples = (amp * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    wav = buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, bytearray(wav),
             {"kind": "audio", "format": "wav", "width": None, "height": None,
              "duration_ms": None}),
            (2, bytearray(b"not audio"),
             {"kind": "audio", "format": "mp3", "width": None, "height": None,
              "duration_ms": None}),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in audio_features(media).collect()}
    good = rows[1]
    assert good.sample_rate == rate
    assert good.n_samples == len(samples)
    assert good.duration_ms == 500
    assert abs(good.rms - amp / np.sqrt(2)) / (amp / np.sqrt(2)) < 0.01
    assert abs(good.zero_cross_rate - 2 * freq / rate) < 0.01
    assert rows[2].sample_rate is None and rows[2].rms is None


@pytest.mark.parametrize("sampwidth", [1, 2, 3, 4])
def test_decode_audio_pcm_widths_round_trip(sampwidth):
    """8/16/24/32-bit PCM WAV all decode to int16 through the audioop
    gate; encode_wav plants samples losslessly representable at every
    width, so the round-trip is exact."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import decode_audio, encode_wav

    # multiples of 256 survive the 8-bit tier exactly; all widths >= 2
    # keep full int16 precision
    s = (np.arange(-120, 120, dtype=np.int16) * 256).astype(np.int16)
    wav = encode_wav(s, 8000, sampwidth=sampwidth)
    arr, rate = decode_audio(wav)
    assert rate == 8000 and arr.shape == (len(s), 1)
    assert np.array_equal(arr[:, 0], s)


def test_decode_audio_aiff_and_ulaw():
    """AIFF decodes gate-free widths (big-endian 16-bit) exactly; AIFF-C
    ulaw/alaw decompress through aifc+audioop within companding error."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        _try_import_aifc,
        decode_audio,
        encode_aiff,
    )

    if _try_import_aifc() is None:
        pytest.skip("stdlib aifc absent (Python >= 3.13)")
    t = np.arange(4000)
    s = (9000 * np.sin(t / 9.0)).astype(np.int16)
    arr, rate = decode_audio(encode_aiff(s, 8000))
    assert rate == 8000
    assert np.array_equal(arr[:, 0], s)
    for comp in (b"ulaw", b"alaw"):
        arr, rate = decode_audio(encode_aiff(s, 8000, comptype=comp))
        assert rate == 8000 and arr.shape == (len(s), 1)
        err = np.abs(arr[:, 0].astype(np.int64) - s.astype(np.int64))
        assert float(err.mean()) < 0.05 * 9000  # companding noise bound


def test_decode_audio_gate_degrades_without_stdlib_codecs(monkeypatch):
    """With audioop/aifc absent (the Python 3.13 reality), non-16-bit PCM
    and AIFF raise NotImplementedError — and audio_features surfaces those
    rows as nulls, exactly like the PIL gate. 16-bit PCM stays REAL."""
    import numpy as np

    from dbt_meshify_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_try_import_audioop", lambda: None)
    monkeypatch.setattr(mm, "_try_import_aifc", lambda: None)
    s = (np.arange(-100, 100, dtype=np.int16) * 256).astype(np.int16)
    arr, rate = mm.decode_audio(mm.encode_wav(s, 8000))  # baseline unaffected
    assert np.array_equal(arr[:, 0], s)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(mm.encode_wav(s, 8000, sampwidth=1))
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"FORM....AIFF")


def test_audio_features_mixed_codec_corpus(spark):
    """audio_features over a mixed 8-bit WAV / AIFF / ulaw-AIFF-C / junk
    corpus: every decodable payload yields real features, junk yields
    nulls, the pass stays total."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        encode_aiff,
        encode_wav,
    )

    rate = 8000
    t = np.arange(rate)  # 1 second
    s = (12000 * np.sin(2 * np.pi * 440.0 * t / rate)).astype(np.int16)
    meta = {"kind": "audio", "format": None, "width": None, "height": None,
            "duration_ms": None}
    from dbt_meshify_spark.operators.multimodal import encode_ima_adpcm

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(s, rate, sampwidth=1)), meta),
            (2, bytearray(encode_wav(s, rate, sampwidth=4)), meta),
            (3, bytearray(encode_aiff(s, rate)), meta),
            (4, bytearray(encode_aiff(s, rate, comptype=b"ulaw")), meta),
            (5, bytearray(b"\x00\x01junk"), meta),
            (6, bytearray(encode_ima_adpcm(s, rate)), meta),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in audio_features(media).collect()}
    expected_rms = 12000 / np.sqrt(2)
    for mid in (1, 2, 3, 4, 6):
        assert rows[mid].sample_rate == rate
        assert rows[mid].duration_ms == 1000
        # 8-bit, ulaw, and ADPCM are lossy tiers; all stay within a few %
        assert abs(rows[mid].rms - expected_rms) / expected_rms < 0.05
        assert abs(rows[mid].zero_cross_rate - 2 * 440.0 / rate) < 0.01
    assert rows[5].sample_rate is None and rows[5].rms is None


def test_ima_adpcm_round_trip_exact_state_machine():
    """The decoder must reproduce the encoder's quantized predictor track
    EXACTLY (both sides step through _ima_step), drop final-block padding
    via the fact chunk, carry the step index across blocks, and refuse
    stereo; audioop.adpcm2lin is deliberately NOT used (continuous-state
    DVI ADPCM would decode WAV block headers as noise)."""
    import numpy as np
    import pytest as _pytest

    from dbt_meshify_spark.operators.multimodal import (
        _IMA_STEP_TABLE,
        _ima_step,
        decode_audio,
        encode_ima_adpcm,
    )

    rate = 8000
    t = np.arange(rate + 123)  # deliberately not a block multiple
    s = (9000 * np.sin(2 * np.pi * 330.0 * t / rate)).astype(np.int16)
    payload = encode_ima_adpcm(s, rate, block_samples=505)
    decoded, got_rate = decode_audio(payload)
    assert got_rate == rate
    assert decoded.shape == (len(s), 1)  # fact chunk dropped the padding
    mono = decoded[:, 0].astype(np.float64)
    # replay the encoder's state machine: its quantized predictor IS the
    # decoded sample, so the round trip is bit-exact, not just correlated
    index, out = 0, []
    for b0 in range(0, len(s), 505):
        chunk = s[b0 : b0 + 505]
        predictor = int(chunk[0])
        out.append(predictor)
        for sample in chunk[1:]:
            step_sz = _IMA_STEP_TABLE[index]
            diff = int(sample) - predictor
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            tmp = step_sz
            for bit in (4, 2, 1):
                if diff >= tmp:
                    nib |= bit
                    diff -= tmp
                tmp >>= 1
            predictor, index = _ima_step(nib, predictor, index)
            out.append(predictor)
    assert np.array_equal(mono, np.asarray(out, dtype=np.float64))
    # lossy but faithful: high correlation with the source
    corr = np.corrcoef(mono, s.astype(np.float64))[0, 1]
    assert corr > 0.99
    # stereo ADPCM is out of scope and must say so
    import struct

    stereo = bytearray(payload)
    fmt_at = payload.index(b"fmt ") + 8
    struct.pack_into("<H", stereo, fmt_at + 2, 2)  # nChannels = 2
    with _pytest.raises(Exception):
        decode_audio(bytes(stereo))


def test_date_spine_bounds(spark):
    from dbt_meshify_spark.operators import date_spine

    spine = date_spine(spark, "2024-01-01", "2024-03-01")
    rows = spine.collect()
    assert len(rows) == 60  # jan 31 + feb 29 (2024 leap), end-exclusive
    vals = sorted(str(r.date_day) for r in rows)
    assert vals[0] == "2024-01-01" and vals[-1] == "2024-02-29"


def test_multimodal_resize_rewrites_meta_and_payload(spark):
    from dbt_meshify_spark.operators.multimodal import resize_media, synthesize_media
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = synthesize_media(docs, "doc_id", "text")
    out = resize_media(media, width=16, height=8).collect()
    assert len(out) == 20
    for row in out:
        assert len(row.payload) == 16 * 8
        assert row.meta.width == 16 and row.meta.height == 8


def test_multimodal_frame_sampling_explodes_rows(spark):
    from dbt_meshify_spark.operators.multimodal import sample_frames, synthesize_media
    from dbt_meshify_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(10)
    media = synthesize_media(docs, "doc_id", "text")
    frames = sample_frames(media, frame_bytes=32, stride=2)
    # every media row yields ceil(n/32) chunks sampled at stride 2
    per_media = frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    sizes = {r.media_id: r.n for r in per_media}
    for row in media.select("media_id", F.length("payload").alias("len")).collect():
        n_chunks = (row.len + 31) // 32
        expected = (n_chunks + 1) // 2
        assert sizes.get(row.media_id) == expected
    # frames are deterministic slices
    f0 = frames.filter("frame_idx = 0").first()
    payloads = {r.media_id: r.payload for r in media.collect()}
    assert bytes(f0.frame) == bytes(payloads[f0.media_id])[:32]


def test_embedding_neardup_lsh_recall_vs_exact(spark):
    from dbt_meshify_spark.operators.similarity import (
        embedding_neardup_exact,
        embedding_neardup_pairs,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_exact(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, num_planes=64, bands=16
        ).collect()
    }
    assert exact, "threshold produced no pairs — fixture changed?"
    # LSH candidates are verified with exact cosine, so no false positives
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below bound"


def test_salted_topk_matches_naive_on_hot_key(spark):
    """90% of rows share one key — the exact case plain row_number
    serializes. The salted two-pass plan must return identical rows."""
    from pyspark.sql import Window

    from dbt_meshify_spark.operators.skew import topk_per_key

    df = (
        spark.range(0, 20_000, 1, 16)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 7).cast("string")))
            .alias("k"),
            F.col("id").alias("row_id"),
            (F.hash("id") % 1000).cast("double").alias("v"),
        )
    )
    order = [F.col("v").desc(), F.col("row_id").asc()]
    salted = topk_per_key(df, ["k"], order, k=5)
    naive = (
        df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy(*order))
        ).filter(F.col("rn") <= 5)
    )
    assert sorted(
        (r.k, r.rn, r.row_id) for r in salted.collect()
    ) == sorted((r.k, r.rn, r.row_id) for r in naive.collect())


def test_salted_count_distinct_matches_naive(spark):
    from dbt_meshify_spark.operators.skew import count_distinct_salted

    df = spark.range(0, 50_000, 1, 16).select(
        (F.col("id") % 3).alias("k"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id") % 997)
        .alias("v"),
    )
    salted = {
        r.k: r.n for r in count_distinct_salted(
            df, ["k"], "v", buckets=8, out_col="n"
        ).collect()
    }
    naive = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert salted == naive


def _ts(s):
    from datetime import datetime
    return datetime.fromisoformat(s)


def test_asof_join_forward_and_tolerance(spark):
    from dbt_meshify_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01 10:00:00")),
         (2, "a", _ts("2024-01-01 12:00:00")),
         (3, "b", _ts("2024-01-01 09:00:00"))],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("a", _ts("2024-01-01 10:30:00"), 7.0),
         ("a", _ts("2024-01-01 18:00:00"), 9.0),
         ("b", _ts("2024-01-01 08:00:00"), 5.0)],
        "k string, rts timestamp, px double",
    )
    fwd = {r.id: r.px for r in asof_join(
        left, right, ["k"], "ts", "rts", ["px"], direction="forward"
    ).collect()}
    # id=1 -> next right at 10:30 (7.0); id=2 -> 18:00 (9.0); id=3 none ahead
    assert fwd == {1: 7.0, 2: 9.0, 3: None}

    tol = {r.id: r.px for r in asof_join(
        left, right, ["k"], "ts", "rts", ["px"],
        direction="forward", tolerance="1 HOUR",
    ).collect()}
    # id=2's next purchase is 6h away -> nulled by tolerance
    assert tol == {1: 7.0, 2: None, 3: None}


def test_asof_join_backward_inclusive(spark):
    from dbt_meshify_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01 10:30:00"))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("a", _ts("2024-01-01 10:30:00"), 1.0),
         ("a", _ts("2024-01-01 10:00:00"), 2.0)],
        "k string, rts timestamp, px double",
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["px"]).collect()
    assert out[0].px == 1.0  # equal timestamp matches (inclusive backward)


def test_bucketed_range_join_matches_naive(spark):
    """No equi key: bucketed explode+equi-join must equal the nested-loop
    cross-join filter."""
    from dbt_meshify_spark.operators.temporal import range_join

    points = spark.range(0, 500).select(
        F.col("id").alias("pid"),
        (F.lit(_ts("2024-01-01 00:00:00")).cast("timestamp")
         + F.make_interval(mins=(F.col("id") * 17) % 10080)).alias("ts"),
    )
    intervals = spark.range(0, 40).select(
        F.col("id").alias("iid"),
        (F.lit(_ts("2024-01-01 00:00:00")).cast("timestamp")
         + F.make_interval(hours=F.col("id") * 4)).alias("s"),
        (F.lit(_ts("2024-01-01 00:00:00")).cast("timestamp")
         + F.make_interval(hours=F.col("id") * 4 + 9)).alias("e"),
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(points, intervals, "ts", "s", "e").collect()
    )
    want = sorted(
        (r.pid, r.iid)
        for r in points.crossJoin(intervals)
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .collect()
    )
    assert got == want and len(got) > 0


def test_ivf_recall_vs_brute_force(spark):
    from dbt_meshify_spark.operators.similarity import cosine_topk, ivf_topk
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(q, emb, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(q, emb, k=5, nlist=16, nprobe=4).collect()}
    # probing 4/16 cells of near-uniform synthetic vectors: measured 0.61
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall
    # every returned neighbor must be scored exactly (a subset of the true
    # similarity ordering): spot-check scores against the exact run
    exact_scores = {(r.query_id, r.neighbor_id): r.cos_sim
                    for r in cosine_topk(q, emb, k=500).collect()}
    for r in ivf_topk(q, emb, k=5, nlist=16, nprobe=4).collect():
        want = exact_scores.get((r.query_id, r.neighbor_id))
        assert want is not None and abs(r.cos_sim - want) < 1e-3


# ---------------------------------------------------------------------------
# Sampling / mixture / sharding (operators/sampling.py)
# ---------------------------------------------------------------------------


def test_deterministic_sample_nests_and_repeats(spark):
    from dbt_meshify_spark.operators.sampling import deterministic_sample
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    small = {r.doc_id for r in deterministic_sample(docs, ["doc_id"], 0.1).collect()}
    big = {r.doc_id for r in deterministic_sample(docs, ["doc_id"], 0.5).collect()}
    again = {r.doc_id for r in deterministic_sample(docs, ["doc_id"], 0.1).collect()}
    n = docs.count()
    assert small == again  # pure function of the key: re-runs identical
    assert small <= big  # thresholds nest: growing the rate never drops rows
    assert abs(len(small) / n - 0.1) < 0.03 and abs(len(big) / n - 0.5) < 0.05
    # a different seed draws a different (but equally sized) sample
    other = {r.doc_id for r in
             deterministic_sample(docs, ["doc_id"], 0.5, seed="s1").collect()}
    assert other != big and abs(len(other) / n - 0.5) < 0.05


def test_mixture_copies_matches_weights(spark):
    from dbt_meshify_spark.operators.sampling import mixture_copies
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    weights = {"src0": 2.5, "src1": 1.0, "src2": 0.25}
    sub = docs.filter(F.col("source").isin(*weights))
    out = mixture_copies(sub, "source", weights, ["doc_id"]).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.n_copies)
    assert set(by_src["src0"]) <= {2, 3}  # floor(2.5) + Bernoulli(0.5)
    assert set(by_src["src1"]) == {1}  # w=1.0: exactly one copy, none dropped
    assert set(by_src["src2"]) == {1}  # survivors of the 0.25 downsample
    n_src2 = sub.filter(F.col("source") == "src2").count()
    assert 0 < len(by_src["src2"]) < n_src2  # genuinely downsampled
    # unlisted sources default to weight 0 (dropped entirely)
    assert mixture_copies(docs, "source", weights, ["doc_id"]) \
        .filter(~F.col("source").isin(*weights)).count() == 0


def test_shard_assignment_balanced_and_complete(spark):
    from dbt_meshify_spark.operators.sampling import shard_assignment
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    n = docs.count()
    sharded = shard_assignment(docs, ["doc_id"], 16)
    stats = {r.shard_id: r["count"] for r in sharded.groupBy("shard_id").count().collect()}
    assert set(stats) == set(range(16))  # every shard occupied
    assert sum(stats.values()) == n  # partition of the corpus
    assert max(stats.values()) < 2.1 * n / 16  # md5-uniform balance


def test_write_training_shards_globally_shuffled(spark, tmp_path):
    from dbt_meshify_spark.operators.sampling import write_training_shards
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "source")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, 8, ["doc_id"])
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.collect()} == {r.doc_id for r in docs.collect()}
    # range-partitioned on the hash key => within any shard file, sources mix
    # (no source-locality curriculum bias): check the first file holds >1 source
    import glob

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 8
    one = spark.read.parquet(files[0])
    assert one.select("source").distinct().count() > 1


def test_write_training_shards_explodes_mixture_copies(spark, tmp_path):
    from dbt_meshify_spark.operators.sampling import (
        mixture_copies,
        write_training_shards,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "source")
    weights = {"src0": 2.0, "src1": 1.0}
    mixed = mixture_copies(
        docs.filter(F.col("source").isin(*weights)), "source", weights, ["doc_id"]
    )
    path = str(tmp_path / "mixshards")
    write_training_shards(mixed, path, 4, ["doc_id"], copies_col="n_copies")
    back = spark.read.parquet(path)
    want = mixed.select(F.sum("n_copies")).collect()[0][0]
    assert back.count() == want  # every copy written
    two = back.groupBy("doc_id").count().filter("count = 2")
    assert two.count() == mixed.filter("source = 'src0'").count()


def test_redact_pii_masks_all_pattern_families(spark):
    from dbt_meshify_spark.operators.text import redact_pii

    rows = [
        ("mail bob.smith+x@corp.example.co.uk now", "mail [EMAIL] now"),
        ("ssn 123-45-6789 on file", "ssn [SSN] on file"),
        ("call (415) 555-0133 today", "call [PHONE] today"),
        ("call 415-555-0133 today", "call [PHONE] today"),
        ("intl +1 415 555 0133 ok", "intl [PHONE] ok"),
        ("host 10.0.200.13 up", "host [IP] up"),
        ("no pii here 1234", "no pii here 1234"),
        ("a@b.io and 127.0.0.1 and 999-88-7777", "[EMAIL] and [IP] and [SSN]"),
    ]
    df = spark.createDataFrame(rows, "txt string, want string")
    out = redact_pii(df, ["txt"]).collect()
    for r in out:
        assert r.txt_redacted == r.want, (r.txt, r.txt_redacted, r.want)


def test_decontaminate_flags_and_drops_overlapping_docs(spark):
    from dbt_meshify_spark.operators.decontam import decontaminate, ngram_overlap

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # == eval doc
            (2, "completely different words appear in this training sample"),
            (3, "the quick brown fox sat still today ok fine"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    stats = {
        r.doc_id: r for r in ngram_overlap(train, eval_df, n=3, min_overlap=0.5).collect()
    }
    assert stats[1].overlap == 1.0 and stats[1].contaminated
    assert stats[2].overlap == 0.0 and not stats[2].contaminated
    # doc 3 shares exactly 'the quick brown' + 'quick brown fox' of its 7 grams
    assert 0.0 < stats[3].overlap < 0.5 and not stats[3].contaminated
    kept = decontaminate(train, eval_df, n=3, min_overlap=0.5)
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {2, 3}


def test_repetition_stats_separates_loops_from_prose(spark):
    from dbt_meshify_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # maximal repetition
            (2, "one two three four five six seven eight nine ten"),  # all unique
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_bigrams == 5 and rows[1].top_bigram_count == 5
    assert rows[1].top_bigram_frac == 1.0 and rows[1].dup_trigram_frac == 0.75
    assert rows[1].is_repetitive
    assert rows[2].top_bigram_count == 1 and rows[2].dup_trigram_frac == 0.0
    assert not rows[2].is_repetitive


def test_histogram_buckets_and_cdf(spark):
    from dbt_meshify_spark.operators.text import histogram

    df = spark.createDataFrame(
        [("a", 5), ("a", 15), ("a", 17), ("b", 25)], "grp string, v long"
    )
    rows = histogram(df, "v", 10.0, by=["grp"]).orderBy("grp", "bucket").collect()
    assert [(r.grp, r.bucket, r.n, r.cdf) for r in rows] == [
        ("a", 0, 1, 0.3333),
        ("a", 1, 2, 1.0),
        ("b", 2, 1, 1.0),
    ]


def test_quantization_error_bound_and_recall(spark):
    from dbt_meshify_spark.operators.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = quantize_embeddings(emb)
    # per-element reconstruction error <= scale/2 and q within int8 range
    recon = dequantize_embeddings(q, out_col="approx").join(
        emb.select("vec_id", F.col("embedding").alias("orig")), "vec_id"
    )
    bad = recon.select(
        F.exists(
            F.zip_with(
                F.col("approx"),
                F.col("orig"),
                lambda a, o: F.abs(a - o.cast("double")) > F.col("scale") / 2 + 1e-9,
            ),
            lambda x: x,
        ).alias("violated")
    ).filter(F.col("violated"))
    assert bad.count() == 0
    rng = q.select(
        F.array_max("q").alias("hi"), F.array_min("q").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).collect()[0]
    assert rng.hi <= 127 and rng.lo >= -127
    # search on dequantized vectors preserves the exact top-3 well
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(queries, emb, k=3)
    approx_corpus = dequantize_embeddings(q).select("vec_id", "embedding")
    approx = cosine_topk(
        dequantize_embeddings(q).filter(F.col("vec_id") < 10).select("vec_id", "embedding"),
        approx_corpus,
        k=3,
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.9


def test_pack_sequences_invariants(spark):
    from dbt_meshify_spark.operators.sampling import pack_sequences
    from dbt_meshify_spark.sources import load_table

    budget = 256
    docs = load_table(spark, SF_ORACLE, "documents").withColumn(
        "n_tokens", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    packed = pack_sequences(docs, budget=budget, n_shards=8).cache()
    n_docs = docs.count()
    # exactly-once: every doc appears once
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs
    packs = packed.groupBy("shard_id", "pack_id").agg(
        F.sum("tokens").alias("pack_tokens"),
        F.max("oversize").alias("has_oversize"),
        F.count(F.lit(1)).alias("n"),
    )
    # budget bound holds for every pack without an oversize doc
    assert packs.filter(~F.col("has_oversize") & (F.col("pack_tokens") > budget)).count() == 0
    # oversize docs sit alone in their pack
    assert packs.filter(F.col("has_oversize") & (F.col("n") > 1)).count() == 0
    # greedy utilization: mean fill >= half the budget
    mean_fill = packs.agg(F.avg("pack_tokens")).collect()[0][0]
    assert mean_fill >= budget / 2
    # deterministic: identical assignment on a second run
    again = pack_sequences(docs, budget=budget, n_shards=8)
    diff = packed.select("doc_id", "shard_id", "pack_id").exceptAll(
        again.select("doc_id", "shard_id", "pack_id")
    )
    assert diff.count() == 0
    packed.unpersist()


def test_jsonl_csv_round_trip(spark, tmp_path):
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.sources.text_formats import (
        read_csv,
        read_jsonl,
        write_csv,
        write_jsonl,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    jp = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, jp)
    back = read_jsonl(spark, jp, schema)
    assert back.count() == docs.count()
    assert back.exceptAll(docs.select(*back.columns)).count() == 0

    cp = str(tmp_path / "docs_csv")
    simple = docs.select("doc_id", "lang", "source", "n_chars")
    write_csv(simple, cp)
    back_csv = read_csv(spark, cp, "doc_id long, lang string, source string, n_chars long")
    assert back_csv.exceptAll(simple).count() == 0

    with pytest.raises(ValueError):
        read_jsonl(spark, jp)


def test_chunk_documents_boundaries(spark):
    from dbt_meshify_spark.operators.text import chunk_documents

    def words(n, prefix="w"):
        return " ".join(f"{prefix}{i}" for i in range(n))

    df = spark.createDataFrame(
        [(1, words(64)), (2, words(65)), (3, words(10)), (4, words(112))],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_tokens=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 64
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_chunk_tokens == 10
    assert len(by_doc[2]) == 2
    c2 = sorted(by_doc[2], key=lambda r: r.chunk_id)
    assert c2[1].n_chunk_tokens == 17  # tokens 49..65
    # stride overlap: chunk1 of doc 4 starts at token 49
    c4 = sorted(by_doc[4], key=lambda r: r.chunk_id)
    assert len(c4) == 2 and c4[1].chunk_text.startswith("w48 ")
    # consecutive chunks overlap by chunk_tokens - stride = 16 tokens
    tail0 = c4[0].chunk_text.split()[-16:]
    head1 = c4[1].chunk_text.split()[:16]
    assert tail0 == head1


def test_tfidf_prefers_rare_terms(spark):
    from dbt_meshify_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common rare1 rare1 rare1"),
            (2, "common shared"),
            (3, "common shared"),
        ],
        "doc_id long, text string",
    )
    top = {
        r.doc_id: r.term
        for r in tfidf_top_terms(df, k=1).collect()
    }
    assert top[1] == "rare1"  # doc-unique beats the everywhere-term
    assert top[2] == "shared" and top[3] == "shared"


def test_connected_components_chain_and_islands(spark):
    from dbt_meshify_spark.operators.dedup import connected_components, dedup_clusters

    # a 10-node chain (diameter 9 — exercises multi-round propagation),
    # a triangle, and an isolated pair
    chain = [(i, i + 1) for i in range(10, 19)]
    pairs = spark.createDataFrame(
        chain + [(30, 31), (31, 32), (30, 32), (50, 51)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert all(comp[i] == 10 for i in range(10, 20))
    assert comp[30] == comp[31] == comp[32] == 30
    assert comp[50] == comp[51] == 50
    # dedup_clusters: unpaired rows are their own representative
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [10, 11, 50, 51, 99]], "doc_id long, text string"
    )
    out = {r.doc_id: (r.cluster_id, r.is_representative) for r in dedup_clusters(docs, pairs).collect()}
    assert out[10] == (10, True) and out[11] == (10, False)
    assert out[99] == (99, True)


def test_connected_components_star_variant_matches_propagate(spark):
    from dbt_meshify_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 19)]
    pairs = spark.createDataFrame(
        chain + [(30, 31), (31, 32), (30, 32), (50, 51)], "id_a long, id_b long"
    )
    base = {r.id: r.component for r in connected_components(pairs).collect()}
    star = {
        r.id: r.component
        for r in connected_components(pairs, variant="star").collect()
    }
    assert star == base


def test_connected_components_star_handles_whale_in_log_rounds(spark):
    # A planted whale component: a 64-node chain (diameter 63). Min-label
    # propagation needs one round per hop — at max_iter=10 it must raise —
    # while the large-star/small-star alternation converges in O(log^2 n)
    # rounds and resolves the whole whale to min-id within the same budget.
    import pytest as _pytest

    from dbt_meshify_spark.operators.dedup import connected_components

    whale = [(i, i + 1) for i in range(100, 163)]
    pairs = spark.createDataFrame(
        whale + [(900, 901)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError):
        connected_components(pairs, max_iter=10, variant="propagate")
    # the auto default survives the same whale within the same budget
    auto = {
        r.id: r.component
        for r in connected_components(pairs, max_iter=10).collect()
    }
    assert all(auto[i] == 100 for i in range(100, 164))
    comp = {
        r.id: r.component
        for r in connected_components(pairs, max_iter=10, variant="star").collect()
    }
    assert all(comp[i] == 100 for i in range(100, 164))
    assert comp[900] == comp[901] == 900


def test_connected_components_rejects_unknown_variant(spark):
    import pytest as _pytest

    from dbt_meshify_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError):
        connected_components(pairs, variant="nope")


def test_vocab_build_and_encode(spark):
    from dbt_meshify_spark.operators.text import build_vocab, encode_docs

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b d")], "doc_id long, text string"
    )
    vocab = build_vocab(docs, min_count=2)
    v = {r.term: r.term_id for r in vocab.collect()}
    assert v == {"a": 1, "b": 2}  # freq rank; c/d dropped at min_count=2
    enc = {r.doc_id: r.token_ids for r in encode_docs(docs, vocab).collect()}
    assert enc[1] == [1, 1, 2, 0] and enc[2] == [1, 2, 0]  # OOV -> 0, in order


def test_approx_sketches_within_error_bounds(spark):
    from dbt_meshify_spark.queries.extensions import ext_approx_sketches
    from dbt_meshify_spark.sources import load_table

    approx = {r.event_type: r for r in ext_approx_sketches(spark, SF_ORACLE).collect()}
    events = load_table(spark, SF_ORACLE, "events")
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("median"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        assert abs(a.approx_users - e.users) / e.users <= 0.05, (et, a, e)
        assert abs(a.approx_median_value - e.median) <= max(0.05 * abs(e.median), 1e-6)
        assert abs(a.approx_p99_value - e.p99) <= max(0.05 * abs(e.p99), 1e-6)


def test_merge_upsert_fallback_round_trips(spark, tmp_path):
    from dbt_meshify_spark.sources.lakehouse import delta_available, merge_upsert

    tgt = str(tmp_path / "merged")
    first = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, k string, v long"
    )
    out1 = merge_upsert(spark, tgt, first, ["id"])
    assert {(r.id, r.v) for r in out1.collect()} == {(1, 10), (2, 20)}
    second = spark.createDataFrame(
        [(2, "b", 99), (3, "c", 30)], "id long, k string, v long"
    )
    out2 = merge_upsert(spark, tgt, second, ["id"])
    assert {(r.id, r.v) for r in out2.collect()} == {(1, 10), (2, 99), (3, 30)}
    # this container has no Delta; the fallback path is what just ran
    assert not delta_available()


def test_failed_commit_keeps_current_version(spark, tmp_path):
    """``commit`` publishes the marker only after the write: a write that
    raises leaves the previous version current and readable."""
    from dbt_meshify_spark.sources import lakehouse

    tdir = str(tmp_path / "tbl")
    assert lakehouse.current_version(tdir) == 0
    assert lakehouse.commit(spark.range(3), tdir) == 1
    bad = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        lakehouse.commit(bad, tdir)
    assert lakehouse.current_version(tdir) == 1
    assert lakehouse.list_versions(tdir) == [1]
    assert sorted(r.id for r in lakehouse.read_current(spark, tdir).collect()) == [0, 1, 2]


def test_bigram_perplexity_ranks_typical_below_atypical(spark):
    from dbt_meshify_spark.operators.lm import bigram_perplexity

    # 10 copies of a formulaic doc + 1 doc of the same words scrambled into
    # bigrams the LM has barely seen: the formulaic docs must score lower ppl
    typical = "the cat sat on the mat"
    atypical = "mat the on sat cat the"
    rows = [(i, typical) for i in range(10)] + [(99, atypical), (100, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_perplexity(df).collect()}
    assert 100 not in out  # <2 tokens => no bigrams => excluded
    assert out[0].n_bigrams == 5
    assert out[0].ppl < out[99].ppl
    # all copies of the same text score identically
    assert out[0].ppl == out[5].ppl
    assert out[0].avg_nll > 0


def test_filter_top_domains_keeps_highest_quality_sources(spark):
    from dbt_meshify_spark.operators.domains import domain_stats, filter_top_domains

    good = "the order was shipped, and the customer paid in full. " * 5
    bad = ";;;;; !!!! ??? ;;;"
    rows = [(i, good, "good_src") for i in range(5)] + [
        (10 + i, bad, "bad_src") for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    stats = {r.source: r for r in domain_stats(df).collect()}
    assert stats["good_src"].avg_quality > stats["bad_src"].avg_quality
    assert stats["good_src"].n_docs == 5
    kept = filter_top_domains(df, top_k=1)
    assert {r.source for r in kept.collect()} == {"good_src"}
    assert kept.count() == 5
    # rank attached and deterministic
    assert kept.select("domain_rank").distinct().collect()[0][0] == 1


def test_remove_duplicated_passages_keeps_one_copy(spark):
    from dbt_meshify_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_passages,
    )

    passage = " ".join(f"w{i}" for i in range(25))  # 25-token shared passage
    rows = [
        (1, f"alpha beta {passage} gamma"),
        (2, f"delta {passage} epsilon zeta"),
        (3, "totally unrelated text with enough words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicated_spans(df, passage_tokens=20, min_docs=2).collect()
    # overlapping 20-token shingles of the 25-token passage merge into ONE
    # span per doc covering exactly the passage
    by_doc = {r.doc_id: r for r in spans}
    assert set(by_doc) == {1, 2}
    assert by_doc[1].span_start == 3 and by_doc[1].span_end == 28
    assert by_doc[2].span_start == 2 and by_doc[2].span_end == 27

    out = {r.doc_id: r for r in remove_duplicated_passages(
        df, passage_tokens=20, min_docs=2).collect()}
    # doc 1 is canonical (min id): keeps everything
    assert out[1].clean_text == f"alpha beta {passage} gamma"
    assert out[1].n_tokens_removed == 0
    # doc 2 loses exactly the passage
    assert out[2].clean_text == "delta epsilon zeta"
    assert out[2].n_tokens_removed == 25
    # untouched doc passes through normalized
    assert out[3].n_tokens_removed == 0


def test_normalize_text_cleans_control_and_whitespace(spark):
    from dbt_meshify_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "  Hello\tWorld\x00\x01  MiXeD   case\n\nend  "),
            (2, "already clean"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in normalize_text(df).collect()}
    assert rows[1].text_norm == "hello world mixed case end"
    assert rows[1].n_chars_norm == len("hello world mixed case end")
    assert rows[2].text_norm == "already clean"


def test_bm25_prefers_rare_terms_and_rewards_coverage(spark):
    from dbt_meshify_spark.operators.text import bm25_scores

    # 'rare' appears in one doc, 'common' in all four; doc 4 matches nothing.
    df = spark.createDataFrame(
        [
            (1, "rare common filler filler"),
            (2, "common filler filler filler"),
            (3, "common common filler filler"),
            (4, "filler filler filler filler"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bm25_scores(df, ["rare", "common"]).collect()}
    assert 4 not in out  # no query term -> no row
    # rare-term doc dominates any common-only doc
    assert out[1].bm25 > out[3].bm25 > 0
    assert out[1].n_matched_terms == 2 and out[2].n_matched_terms == 1
    # higher tf of the same term scores higher at equal length
    assert out[3].bm25 > out[2].bm25


def test_orc_text_binary_sources(spark, tmp_path):
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.sources.text_formats import (
        read_binary,
        read_orc,
        read_text,
        write_orc,
    )

    docs = load_table(spark, SF_SMOKE, "documents")

    # ORC round-trips schema + values (self-describing columnar format)
    op = str(tmp_path / "docs_orc")
    write_orc(docs, op)
    back = read_orc(spark, op)
    assert back.schema == docs.schema
    assert back.exceptAll(docs).count() == 0

    # line-mode text: one row per line; whole-file mode: one row per file
    tp = tmp_path / "raw"
    tp.mkdir()
    (tp / "a.txt").write_text("line one\nline two\n")
    (tp / "b.txt").write_text("single doc spanning\ntwo lines\n")
    lines = read_text(spark, str(tp))
    assert lines.count() == 4
    whole = read_text(spark, str(tp), whole=True)
    assert whole.count() == 2
    texts = {r.value for r in whole.collect()}
    assert "single doc spanning\ntwo lines\n" in texts

    # binaryFile: content bytes + length metadata, glob filtering
    bp = tmp_path / "media"
    bp.mkdir()
    (bp / "x.bin").write_bytes(b"\x00\x01\x02payload")
    (bp / "skip.dat").write_bytes(b"nope")
    blobs = read_binary(spark, str(bp), glob="*.bin")
    rows = blobs.collect()
    assert len(rows) == 1
    assert bytes(rows[0].content) == b"\x00\x01\x02payload"
    assert rows[0].length == 10


def test_bpe_train_apply_roundtrip_and_determinism(spark):
    from dbt_meshify_spark.operators.bpe import EOW, apply_bpe, train_bpe

    df = spark.createDataFrame(
        [(i, "low low low low lower lower newest newest newest widest") for i in range(8)],
        ["doc_id", "text"],
    )
    merges = train_bpe(df, n_merges=20, sample_max=1000)
    assert merges and merges == train_bpe(df, n_merges=20, sample_max=1000)

    out = apply_bpe(df, merges).collect()
    row = out[0]
    # tokens reassemble the original text exactly (lossless segmentation)
    rebuilt = "".join(t for t in row.bpe_tokens).replace(EOW, " ").strip()
    assert rebuilt == "low low low low lower lower newest newest newest widest"
    # the most frequent word collapses to a single learned token
    assert f"low{EOW}" in row.bpe_tokens
    assert row.n_bpe_tokens == len(row.bpe_tokens)
    # a word with characters never adjacent in training stays multi-token
    unseen = apply_bpe(
        spark.createDataFrame([(1, "zq")], ["doc_id", "text"]), merges
    ).collect()[0]
    assert len(unseen.bpe_tokens) >= 2


def test_pagerank_sink_outranks_sources_and_sums_bounded(spark):
    from dbt_meshify_spark.operators.graph_rank import pagerank

    # star: everyone links to 'hub'; 'a' also links to 'b'
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "b")], ["src", "dst"]
    )
    ranks = {r.id: r.pagerank for r in pagerank(edges, iters=10).collect()}
    assert ranks["hub"] > ranks["b"] > ranks["a"] == ranks["c"]
    # total mass stays <= 1 (dangling mass decays, never grows)
    assert 0 < sum(ranks.values()) <= 1.0 + 1e-9


def test_curation_pipeline_drops_each_junk_class(spark):
    from dbt_meshify_spark.operators.pipeline import curate_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and runs far away today "
        "the weather is fine and the road is long and the journey continues"
    )
    tail = "extra tail of unique text here to dodge the dedup key"
    rows = [
        (1, good),                                  # survives
        (2, good),                                  # exact dup of 1 -> dropped
        (3, "zzz qqq xxx"),                         # no markers -> 'und' -> dropped
        # gibberish long tokens + punct run + one marker: quality < 0.5
        (4, "the zzzzzzzzzzzzzzzz qqqqqqqqqqqqqqqq !!!!!!!!!!"),
        (5, good + " " + tail),                     # contaminated vs eval
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # eval doc shares doc 5's tail trigrams (>20% of its distinct grams)
    eval_df = spark.createDataFrame([(100, tail)], ["doc_id", "text"])
    out = curate_corpus(docs, eval_df, quality_min=0.5)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1]
    row = out.collect()[0]
    assert row.lang_pred == "en" and row.quality >= 0.5


def test_quality_classifier_separates_teacher_classes(spark):
    from dbt_meshify_spark.operators.classifier import (
        score_quality_classifier,
        train_quality_classifier,
    )
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    w = train_quality_classifier(docs, sample_max=400)
    assert len(w) == 5
    # deterministic training
    assert w == train_quality_classifier(docs, sample_max=400)

    scored = score_quality_classifier(quality_score(docs), w)
    agg = scored.select(
        F.avg(F.when(F.col("quality") >= 0.6, F.col("clf_score"))).alias("pos"),
        F.avg(F.when(F.col("quality") < 0.6, F.col("clf_score"))).alias("neg"),
    ).collect()[0]
    # the distilled model must rank teacher-positive docs above negative ones
    assert agg.pos is not None and agg.neg is not None and agg.pos > agg.neg
    # scores are proper probabilities
    mn, mx = scored.select(F.min("clf_score"), F.max("clf_score")).first()
    assert 0.0 <= mn <= mx <= 1.0


def test_token_entropy_orders_diversity(spark):
    from dbt_meshify_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a a a a a"),          # zero entropy
            (2, "a b c d e f g h"),          # max entropy: ln(8)
            (3, "a a b b c c d d"),          # uniform over 4: ln(4)
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in token_entropy(df).collect()}
    assert rows[1].entropy == 0.0
    assert abs(rows[2].entropy - 2.0794) < 1e-4
    assert abs(rows[3].entropy - 1.3863) < 1e-4
    assert rows[2].n_distinct_tokens == 8 and rows[3].n_tokens == 8


def test_sample_exact_k_quota_and_determinism(spark):
    from dbt_meshify_spark.operators.sampling import sample_exact_k
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = sample_exact_k(docs, k=3, by=["lang"], key_cols=["doc_id"])
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(3, totals[lang])
    # identical draw on re-run; different seed draws a different quota
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in sample_exact_k(docs, k=3, by=["lang"], key_cols=["doc_id"]).collect()}
    c = {r.doc_id for r in sample_exact_k(docs, k=3, by=["lang"], key_cols=["doc_id"], seed="s1").collect()}
    assert a == b and a != c


def test_q36_array_variant(spark):
    # Driver-checked q36 serializes with concat_ws (pandas canonicalizers
    # can't hash list cells); the array-typed variant must stay equivalent.
    from dbt_meshify_spark.queries.relational import q36, q36_arrays

    arr = q36_arrays(spark, SF_ORACLE).limit(20).collect()
    ser = {r.o_custkey: r.order_keys for r in q36(spark, SF_ORACLE).limit(20).collect()}
    for r in arr:
        assert list(r.order_keys) == sorted(r.order_keys)
        assert ser[r.o_custkey] == ",".join(str(k) for k in r.order_keys)


def test_edit_distance_join_finds_true_matches(spark):
    from dbt_meshify_spark.operators.fuzzy import (
        edit_distance_join,
        fuzzy_join_capped_buckets,
    )

    left = spark.createDataFrame(
        [(1, "alphabet soup"), (2, "distinctive"), (3, "zzzzzz")],
        ["lid", "lname"],
    )
    right = spark.createDataFrame(
        [(10, "alphabet soup!"), (11, "distinktive"), (12, "unrelated str")],
        ["rid", "rname"],
    )
    got = {
        (r.lid, r.rid, r.dist)
        for r in edit_distance_join(
            left, right, "lid", "lname", "rid", "rname", k=4
        ).collect()
    }
    assert (1, 10, 1) in got  # one insertion
    assert (2, 11, 1) in got  # one substitution
    assert not any(l == 3 for l, _, _ in got)
    assert fuzzy_join_capped_buckets(
        left, right, "lname", "rname", k=4
    ).count() == 0


def test_edit_distance_join_caps_hot_buckets(spark):
    from dbt_meshify_spark.operators.fuzzy import (
        edit_distance_join,
        fuzzy_join_capped_buckets,
    )

    # 40x40 identical-chunk rows: every (i, chunk) bucket is hot under a
    # 100-pair cap, so the join must return nothing AND report the capping.
    left = spark.createDataFrame(
        [(i, "Supplier#%09d" % 1) for i in range(40)], ["lid", "lname"]
    )
    right = spark.createDataFrame(
        [(i, "Supplier#%09d" % 1) for i in range(40)], ["rid", "rname"]
    )
    joined = edit_distance_join(
        left, right, "lid", "lname", "rid", "rname", k=4, max_bucket_pairs=100
    )
    assert joined.count() == 0
    assert (
        fuzzy_join_capped_buckets(
            left, right, "lname", "rname", k=4, max_bucket_pairs=100
        ).count()
        == 5
    )


def test_semantic_dedup_invariants(spark):
    from dbt_meshify_spark.operators.similarity import (
        cosine_similarity,
        semantic_dedup,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    kept = semantic_dedup(emb, threshold=0.45, n_clusters=8)
    kept_rows = kept.select("vec_id", "sem_cluster").collect()
    kept_ids = {r.vec_id for r in kept_rows}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert kept_ids <= all_ids and kept_ids
    dropped = all_ids - kept_ids
    if dropped:
        # every dropped vector must have a same-cluster witness at >= thr
        assigned = semantic_dedup(emb, threshold=2.0, n_clusters=8)  # drops nothing
        assert {r.vec_id for r in assigned.select("vec_id").collect()} == all_ids
        cl = {r.vec_id: r.sem_cluster for r in assigned.select("vec_id", "sem_cluster").collect()}
        a = emb.alias("a")
        b = emb.alias("b")
        sims = (
            a.crossJoin(b)
            .filter(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("x"),
                F.col("b.vec_id").alias("y"),
                cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("cs"),
            )
            .filter(F.col("cs") >= 0.45)
            .collect()
        )
        witnesses = {}
        for r in sims:
            witnesses.setdefault(r.x, set()).add(r.y)
        for d in dropped:
            same_cluster = {y for y in witnesses.get(d, set()) if cl[y] == cl[d]}
            assert same_cluster, f"dropped {d} has no same-cluster witness"
    # determinism
    again = {r.vec_id for r in semantic_dedup(emb, threshold=0.45, n_clusters=8).select("vec_id").collect()}
    assert again == kept_ids


def test_gated_datasources_raise_clear_errors(spark):
    # avro/kafka connector modules are deployment artifacts absent from this
    # container; the gated paths must fail fast with deployment guidance,
    # not with an opaque ClassNotFoundException mid-job
    import pytest as _pytest

    from dbt_meshify_spark.sources.text_formats import (
        DataSourceUnavailable,
        read_avro,
    )
    from dbt_meshify_spark.streaming.events import read_events_kafka

    with _pytest.raises(DataSourceUnavailable, match="avro"):
        read_avro(spark, "/tmp/nonexistent")
    with _pytest.raises(DataSourceUnavailable, match="kafka"):
        read_events_kafka(spark, "localhost:9092", "events")


def test_keep_best_of_cluster_keeps_highest_quality(spark, docs_with_dups):
    from dbt_meshify_spark.operators.dedup import keep_best_of_cluster, ngram_jaccard_pairs
    from dbt_meshify_spark.operators.text import quality_score

    pairs = ngram_jaccard_pairs(docs_with_dups, n=3, min_jaccard=0.5)
    scored = quality_score(docs_with_dups).select("doc_id", "quality")
    out = keep_best_of_cluster(scored, pairs, score_col="quality")
    rows = out.collect()
    assert len(rows) == docs_with_dups.count()  # every doc labeled
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        reps = [m for m in members if m.is_representative]
        assert len(reps) == 1, f"cluster {cid}: {len(reps)} representatives"
        best = max(members, key=lambda m: (m.quality, -m.doc_id))
        assert reps[0].doc_id == best.doc_id
        assert reps[0].quality == max(m.quality for m in members)
    # planted near-dup: orig 3 and its " tail tweak" copy share a cluster
    cid3 = {r.doc_id: r.cluster_id for r in rows}
    assert cid3[3] == cid3[2_000_003]


def test_hard_negatives_excludes_same_label(spark):
    from dbt_meshify_spark.operators.similarity import cosine_topk, hard_negatives
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    out = hard_negatives(q, emb, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert len(out) == 4 * 3
    for r in out:
        assert r.query_label == labels[r.query_id]
        assert r.neighbor_label != r.query_label  # negatives only
    # agrees with brute force: top-1 negative == best cross-label neighbor
    # from the unfiltered exact top-k ranking over the full corpus
    full = cosine_topk(q, emb, k=emb.count() - 1).collect()
    for qid in [0, 1, 2, 3]:
        want = next(
            r.neighbor_id
            for r in sorted(
                (r for r in full if r.query_id == qid),
                key=lambda r: r.rank,
            )
            if labels[r.neighbor_id] != labels[qid]
        )
        got = next(
            r.neighbor_id for r in out if r.query_id == qid and r.rank == 1
        )
        assert got == want


def test_dedup_against_index_exact_and_batch_local(spark, docs_with_dups):
    from dbt_meshify_spark.operators.dedup import dedup_against_index

    # index = originals; batch = planted exact copies + near copies + one
    # genuinely novel doc and one within-batch dup pair
    index = docs_with_dups.filter(F.col("doc_id") < 1_000_000)
    batch = docs_with_dups.filter(F.col("doc_id") >= 1_000_000)
    novel = spark.createDataFrame(
        [(9_000_000, "completely new text never seen", "en", "unit", 30),
         (9_000_001, "repeated batch doc", "en", "unit", 18),
         (9_000_002, "repeated batch doc", "en", "unit", 18)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup_against_index(batch.unionByName(novel), index)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # exact copies of indexed docs are dropped
    assert not kept & {1_000_000, 1_000_001, 1_000_002}
    # near copies (" tail tweak") are NOT exact dups — exact tier keeps them
    assert {2_000_003, 2_000_004, 2_000_005} <= kept
    # novel doc kept; within-batch dup folded keep-first
    assert 9_000_000 in kept and 9_000_001 in kept and 9_000_002 not in kept


def test_bucketed_layout_one_file_per_bucket_and_idempotent(spark):
    import os

    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.sources.bucketing import (
        bucketed_table_name,
        ensure_bucketed,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    b1 = ensure_bucketed(spark, orders, "orders", SF_SMOKE, ["o_orderkey"], 8)
    assert b1.count() == orders.count()
    name = bucketed_table_name("orders", SF_SMOKE, 8)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    ).replace("file:", "")
    parts = [f for f in os.listdir(loc) if f.startswith("part-")]
    assert len(parts) == 8, f"want one file per bucket, got {len(parts)}"
    nb = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter(F.col("col_name") == "Num Buckets")
        .collect()[0]["data_type"]
    )
    assert nb == "8"
    # idempotent: second call reuses the catalog entry (no rewrite)
    mtimes = {f: os.path.getmtime(os.path.join(loc, f)) for f in parts}
    b2 = ensure_bucketed(spark, orders, "orders", SF_SMOKE, ["o_orderkey"], 8)
    assert b2.count() == orders.count()
    assert all(
        os.path.getmtime(os.path.join(loc, f)) == m for f, m in mtimes.items()
    )


def test_diverse_sample_coverage_quota_determinism(spark):
    from dbt_meshify_spark.operators.sampling import diverse_sample
    from dbt_meshify_spark.operators.similarity import (
        assign_cells,
        train_ivf_centroids,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    out = diverse_sample(emb, k=64, nlist=16).collect()
    quota = 4  # ceil(64/16)
    per_cell: dict = {}
    for r in out:
        per_cell[r.cell] = per_cell.get(r.cell, 0) + 1
    assert all(v <= quota for v in per_cell.values())
    # coverage: every non-empty cell is represented
    centroids = train_ivf_centroids(emb, nlist=16, iters=4)
    cells = assign_cells(emb, centroids)
    nonempty = {r.cell for r in cells.select("cell").distinct().collect()}
    assert set(per_cell) == nonempty
    # exact quota wherever the cell has >= quota members
    sizes = {
        r.cell: r.n
        for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    for cell, n in sizes.items():
        assert per_cell[cell] == min(quota, n)
    # determinism: identical draw on re-run
    again = diverse_sample(emb, k=64, nlist=16).collect()
    assert sorted((r.vec_id, r.cell) for r in out) == sorted(
        (r.vec_id, r.cell) for r in again
    )
    # different seed draws a different (same-shape) subset
    other = diverse_sample(emb, k=64, nlist=16, seed="s1").collect()
    assert {r.vec_id for r in other} != {r.vec_id for r in out}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from dbt_meshify_spark.sources.layout import compact_parquet

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    # simulate a fragmented streaming sink: 64 tiny files
    spark.range(0, 10_000).repartition(64).write.parquet(src)
    import os

    frag_files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(frag_files) == 64
    n = compact_parquet(spark, src, out, target_rows_per_file=4_000)
    assert n == 3  # ceil(10000/4000)
    out_files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(out_files) == 3
    assert spark.read.parquet(out).count() == 10_000


def test_optimize_layout_clusters_key_ranges(spark, tmp_path):
    import os

    import pyarrow.parquet as pq

    from dbt_meshify_spark.sources.layout import optimize_layout

    from dbt_meshify_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "clustered")
    optimize_layout(orders, out, ["o_orderdate"], target_files=4)
    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 4
    # file-level min/max ranges on the cluster key must not overlap —
    # that's what makes a pushed-down date filter skip whole files
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        i = cols["o_orderdate"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1,hi1)} vs {(lo2,hi2)}"
    # a selective filter over the clustered copy reads the same rows
    total = spark.read.parquet(out).filter(
        F.col("o_orderdate") < "1993-01-01"
    ).count()
    want = orders.filter(F.col("o_orderdate") < "1993-01-01").count()
    assert total == want


def test_table_versions_are_reproducible_snapshots(spark, tmp_path):
    from dbt_meshify_spark.sources.lakehouse import (
        list_versions,
        merge_upsert,
        read_table_version,
    )

    tdir = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    merge_upsert(spark, tdir, v1, ["id"])
    v2 = spark.createDataFrame(
        [(2, "B"), (3, "c")], "id long, val string"
    )
    merge_upsert(spark, tdir, v2, ["id"])
    assert list_versions(tdir) == [1, 2]
    # current = post-merge state
    cur = {(r.id, r.val) for r in read_table_version(spark, tdir).collect()}
    assert cur == {(1, "a"), (2, "B"), (3, "c")}
    # snapshot 1 = exactly the pre-merge table, merges notwithstanding
    old = {(r.id, r.val) for r in read_table_version(spark, tdir, 1).collect()}
    assert old == {(1, "a"), (2, "b")}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_table_version(spark, tdir, 99)


def test_stop_gram_caps_match_oracle_when_binding(spark):
    """Planted >cap stop-grams: the containment/winnowing df caps must
    compute the SAME function as their oracles when the cap actually binds
    (sf0.01/sf0.1 never push a gram past the default 10k, so the corpus
    oracle run alone cannot prove this). Runs the operator with a tiny cap
    and the REAL oracle SQL with its 10000 literal lowered to match."""
    import duckdb
    import pandas as pd

    from dbt_meshify_spark.operators.dedup import (
        ngram_containment_pairs,
        winnow_overlap_pairs,
    )
    from dbt_meshify_spark.queries import ORACLES
    from tests.oracle_utils import assert_matches_oracle

    # "the quick brown" appears in 9 docs -> df 9 > cap 3, dropped. Docs
    # 20/21 consist ONLY of the stop-gram: without the cap they pair at
    # containment 1.0; with it they vanish. Docs 10/11 share a distinctive
    # run that survives.
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 10, 11, 20, 21],
            "text": [
                "the quick brown one x1 y1",
                "the quick brown two x2 y2",
                "the quick brown three x3 y3",
                "the quick brown four x4 y4",
                "the quick brown five x5 y5",
                "the quick brown alpha beta gamma delta epsilon",
                "the quick brown alpha beta gamma",
                "the quick brown",
                "the quick brown",
            ],
        }
    )
    con = duckdb.connect()
    con.register("documents", docs)
    sdf = spark.createDataFrame(docs)

    out = ngram_containment_pairs(sdf, n=3, min_containment=0.8, max_gram_df=3)
    pairs = {(r.id_a, r.id_b): r.containment for r in out.collect()}
    assert pairs == {(10, 11): 1.0}  # cap binding: (20, 21) must NOT appear
    sql = ORACLES["ext_ngram_containment"].replace("<= 10000", "<= 3")
    assert sql != ORACLES["ext_ngram_containment"]
    assert_matches_oracle(out, con, sql, "containment-capped")

    # winnowing: docs 1..5 are verbatim copies (all prints df 5 > cap 3,
    # dropped -> their 10 pairs vanish); docs 10/11 share a distinctive
    # long run (print df 2, survives).
    wdocs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 10, 11],
            "text": ["zzz yyy xxx www vvv uuu"] * 5
            + [
                "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda",
            ],
        }
    )
    con2 = duckdb.connect()
    con2.register("documents", wdocs)
    wsdf = spark.createDataFrame(wdocs)
    wout = winnow_overlap_pairs(
        wsdf, k=5, window=4, min_shared=2, max_print_df=3
    )
    wpairs = {(r.id_a, r.id_b) for r in wout.collect()}
    assert wpairs == {(10, 11)}
    wsql = ORACLES["ext_winnow_overlap"].replace("<= 10000", "<= 3")
    assert wsql != ORACLES["ext_winnow_overlap"]
    assert_matches_oracle(wout, con2, wsql, "winnow-capped")
    con.close()
    con2.close()


def test_ensure_bucketed_rebuilds_when_source_regenerated(spark, tmp_path):
    """A source parquet regenerated IN PLACE (datagen change between rounds)
    must invalidate the derived bucketed layout — fingerprint mismatch
    forces a rewrite instead of silently serving stale rows, in BOTH the
    catalog-hit and cross-session DDL-re-registration paths."""
    import os
    import shutil

    from dbt_meshify_spark.sources.bucketing import (
        FINGERPRINT_FILE,
        bucketed_table_name,
        ensure_bucketed,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_dir, "orders.parquet")
    spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")).limit(
        100
    ).coalesce(1).write.parquet(src)

    df = spark.read.parquet(src)
    b1 = ensure_bucketed(spark, df, "orders", sf_dir, ["o_orderkey"], 8)
    assert b1.count() == 100
    name = bucketed_table_name("orders", sf_dir, 8)
    layout = os.path.join("/tmp/dbt_meshify_spark_buckets", name)
    assert os.path.exists(os.path.join(layout, FINGERPRINT_FILE))

    # regenerate the source in place with different content
    shutil.rmtree(src)
    spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")).limit(
        57
    ).coalesce(1).write.parquet(src)

    # catalog-hit path: stale layout must be rebuilt, not reused
    df2 = spark.read.parquet(src)
    b2 = ensure_bucketed(spark, df2, "orders", sf_dir, ["o_orderkey"], 8)
    assert b2.count() == 57

    # cross-session path: drop the catalog entry (files + fingerprint
    # remain, now matching) -> DDL re-registration serves the fresh layout
    spark.sql(f"DROP TABLE {name}")
    b3 = ensure_bucketed(spark, df2, "orders", sf_dir, ["o_orderkey"], 8)
    assert b3.count() == 57
    # ...and regenerating again with a lost catalog forces a rewrite too
    spark.sql(f"DROP TABLE {name}")
    shutil.rmtree(src)
    spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")).limit(
        31
    ).coalesce(1).write.parquet(src)
    b4 = ensure_bucketed(
        spark, spark.read.parquet(src), "orders", sf_dir, ["o_orderkey"], 8
    )
    assert b4.count() == 31
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(layout, ignore_errors=True)


def test_ensure_bucketed_rebuilds_after_catalog_loss(spark):
    """A fresh session has no catalog entry but may find stale files at the
    layout path — ensure_bucketed must rebuild cleanly over them."""
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.sources.bucketing import (
        bucketed_table_name,
        ensure_bucketed,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    ensure_bucketed(spark, orders, "orders", SF_SMOKE, ["o_orderkey"], 8)
    name = bucketed_table_name("orders", SF_SMOKE, 8)
    spark.sql(f"DROP TABLE {name}")  # catalog gone, files remain
    b = ensure_bucketed(spark, orders, "orders", SF_SMOKE, ["o_orderkey"], 8)
    assert b.count() == orders.count()
    assert spark.catalog.tableExists(name)


def test_temperature_weights_flatten_and_compose(spark):
    from dbt_meshify_spark.operators.sampling import (
        mixture_copies,
        temperature_weights,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    counts = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    w1 = temperature_weights(docs, "source", alpha=1.0)
    assert all(abs(v - 1.0) < 1e-9 for v in w1.values())  # alpha=1: identity
    w0 = temperature_weights(docs, "source", alpha=0.0)
    # alpha=0: uniform sampling -> every source's expected size is equal
    sizes = {s: w0[s] * counts[s] for s in counts}
    vals = list(sizes.values())
    assert max(vals) - min(vals) < 1e-6
    w5 = temperature_weights(docs, "source", alpha=0.5)
    # expected total preserved, small sources boosted over large ones
    total = sum(w5[s] * counts[s] for s in counts)
    assert abs(total - sum(counts.values())) < 1e-6
    smallest = min(counts, key=counts.get)
    largest = max(counts, key=counts.get)
    if counts[smallest] < counts[largest]:
        assert w5[smallest] > w5[largest]
    # composes with mixture_copies: realized expected copies ~= weights
    mixed = mixture_copies(docs, "source", w5, ["doc_id"])
    got = {
        r.source: r.c
        for r in mixed.groupBy("source").agg(F.sum("n_copies").alias("c")).collect()
    }
    for s in counts:
        expected = w5[s] * counts[s]
        # derandomized Bernoulli: realized count within a small band
        assert abs(got.get(s, 0) - expected) <= max(10, 0.2 * expected)


def test_ccnet_buckets_stratify_by_perplexity(spark):
    from dbt_meshify_spark.queries import QUERIES

    rows = QUERIES["ext_ccnet_buckets"](spark, SF_SMOKE).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, members in by_lang.items():
        n = len(members)
        counts = {}
        for m in members:
            counts[m.bucket] = counts.get(m.bucket, 0) + 1
        # NTILE: tercile sizes differ by at most 1
        assert max(counts.values()) - min(counts.values()) <= 1, (lang, counts)
        heads = [m.ppl for m in members if m.bucket == "head"]
        tails = [m.ppl for m in members if m.bucket == "tail"]
        assert max(heads) <= min(tails), lang  # head is LM-typical


def test_hard_negatives_lsh_recall_vs_exact(spark):
    from dbt_meshify_spark.operators.similarity import (
        hard_negatives,
        hard_negatives_lsh,
    )
    from dbt_meshify_spark.sources import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = hard_negatives(q, emb, k=3).collect()
    approx = hard_negatives_lsh(q, emb, k=3, num_planes=64, bands=16).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in approx:
        assert r.neighbor_label != r.query_label  # still negatives only
        assert r.neighbor_label == labels[r.neighbor_id]
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_multimodal_real_y4m_video_frame_sampling(spark):
    """Real codec-free VIDEO kernel: 6-frame Y4M with known per-frame gray
    levels -> stride-2 sampling returns frames 0/2/4 as PPM stills whose
    pixels match the source luma."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        _parse_ppm,
        encode_y4m,
        sample_video_frames,
    )

    levels = [0, 40, 80, 120, 160, 200]
    frames = [np.full((8, 8, 3), lv, dtype=np.uint8) for lv in levels]
    payload = encode_y4m(frames, fps=10)
    media = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"not a video, chunk me " * 10))],
        "media_id long, payload binary",
    )
    out = sample_video_frames(media, stride=2).collect()
    vid = sorted(
        ((r.frame_idx, bytes(r.frame)) for r in out if r.media_id == 1)
    )
    assert [i for i, _ in vid] == [0, 2, 4]
    for (idx, frame_bytes), lv in zip(vid, levels[::2]):
        img = _parse_ppm(frame_bytes)
        assert img.shape == (8, 8, 3)
        # gray input: luma == the gray level (allow rounding)
        assert abs(int(img[0, 0, 0]) - lv) <= 1, (idx, img[0, 0, 0], lv)
    # non-Y4M payloads fall back to the chunk stub (no crash, rows emitted)
    assert any(r.media_id == 2 for r in out)


# ---------------------------------------------------------------------------
# round-2: heuristics / budget selection / snapshot diff / RRF fusion
# ---------------------------------------------------------------------------


def test_gopher_rules_each_rule_discriminates(spark):
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.heuristics import gopher_rules

    good = "the quick brown fox jumps over the lazy dog and then " * 10
    rows = [
        (0, good),
        (1, "too few words"),  # r_word_count
        (2, ("a " * 80).strip()),  # r_mean_word_len (mean=1)
        (3, good + " " + "#" * 1 + " #" * 30),  # r_symbol_ratio
        (4, "\n".join(f"- the bullet item number {i} here" for i in range(10))),  # bullets
        (5, "\n".join(f"the line number {i} trails off..." for i in range(10))),  # ellipsis
        (6, good + " " + "123 456 789 " * 40),  # r_alpha_words
        (7, ("zork blap quux frob nimble wozzle " * 12).strip()),  # r_stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in gopher_rules(df, min_words=30).collect()
    }
    assert out[0]["gopher_keep"]
    assert not out[1]["r_word_count"]
    assert not out[2]["r_mean_word_len"]
    assert not out[3]["r_symbol_ratio"]
    assert not out[4]["r_bullet_lines"]
    assert not out[5]["r_ellipsis_lines"]
    assert not out[6]["r_alpha_words"]
    assert not out[7]["r_stopwords"]
    for bad in range(1, 8):
        assert not out[bad]["gopher_keep"], bad


def test_c4_line_clean(spark):
    from dbt_meshify_spark.operators.heuristics import c4_line_clean

    text = "\n".join(
        [
            "This is a perfectly fine prose sentence that survives.",
            "too short.",
            "this line has plenty of words but no terminal punctuation",
            "Please enable javascript to view this page properly now.",
            "Another good sentence follows the C4 rules and stays here!",
        ]
    )
    df = spark.createDataFrame([(0, text), (1, "short.\n{ }")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_clean(df).collect()}
    kept = out[0]["text_clean"].split("\n")
    assert out[0]["n_lines"] == 5
    assert out[0]["n_lines_kept"] == 2
    assert kept[0].startswith("This is a perfectly")
    assert kept[1].startswith("Another good")
    assert out[0]["c4_keep"]
    assert out[1]["n_lines_kept"] == 0 and not out[1]["c4_keep"]


def test_select_to_token_budget_matches_naive_and_is_partition_invariant(spark):
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.sampling import select_to_token_budget

    rows = [(i, (i * 37) % 100, 10 + (i * 13) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, score long, n_tokens long")
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    budget = 4000

    naive = sorted(
        rows, key=lambda r: (-r[1], r[0])
    )
    cum, expect = 0, []
    for i, s, t in naive:
        cum += t
        if cum > budget:
            break
        expect.append((i, cum))
    expected = dict(expect)

    for nparts in (1, 4, 16):
        got = {
            r["doc_id"]: r["cum_tokens"]
            for r in select_to_token_budget(
                df, budget, order_by=order, num_partitions=nparts
            ).collect()
        }
        assert got == expected, f"nparts={nparts}"


def test_cap_per_key(spark):
    from pyspark.sql import functions as F

    from dbt_meshify_spark.operators.sampling import cap_per_key

    rows = [(i, f"k{i % 3}", i % 7) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, k string, s long")
    out = cap_per_key(
        df, "k", 5, [F.col("s").desc(), F.col("id").asc()]
    ).collect()
    assert len(out) == 15
    per_key = {}
    for r in out:
        per_key.setdefault(r["k"], []).append((r["s"], r["id"], r["rank_in_key"]))
    for k, lst in per_key.items():
        assert len(lst) == 5
        assert sorted(lst, key=lambda x: x[2]) == sorted(
            lst, key=lambda x: (-x[0], x[1])
        )


def test_snapshot_diff_statuses(spark):
    from dbt_meshify_spark.operators.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c-edited"), (4, "d")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "removed", 3: "changed", 4: "added"}
    full = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old, new, include_unchanged=True).collect()
    }
    assert full[2] == "unchanged" and len(full) == 4


def test_rrf_fuse_hand_example(spark):
    from dbt_meshify_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank long")
    sem = spark.createDataFrame([(20, 1), (40, 2)], "doc_id long, rank long")
    out = {r["doc_id"]: r for r in rrf_fuse(lex, sem).collect()}
    assert abs(out[20]["rrf_score"] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert out[10]["sem_rank"] is None
    assert abs(out[40]["rrf_score"] - round(1 / 62, 6)) < 1e-9
    # doc 20 appears in both lists -> fused first
    assert out[20]["fused_rank"] == 1


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from dbt_meshify_spark.operators.pca import embedding_covariance

    rng = [
        (i, [float(((i * 37 + j * 11) % 19) - 9) / 5.0 for j in range(6)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df).collect()
    }
    x = np.asarray([v for _, v in rng])
    expect = np.cov(x, rowvar=False, bias=True)  # population covariance
    for (i, j), v in got.items():
        assert abs(v - expect[i, j]) < 1e-9, (i, j, v, expect[i, j])


def test_pca_project_invariants(spark):
    import numpy as np

    from dbt_meshify_spark.operators.pca import pca_project

    np_rng = np.random.RandomState(7)
    # anisotropic data: variance concentrated in the first two axes
    base = np_rng.normal(size=(300, 8)) * np.array([5, 3, 1, 1, 0.5, 0.5, 0.1, 0.1])
    rows = [(i, [float(v) for v in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pca_project(df, k=2)
    collected = out.collect()
    assert len(collected) == 300
    z = np.asarray([r["components"] for r in collected])
    # projected variance is ordered and dominates: top-2 capture most of it
    v0, v1 = z[:, 0].var(), z[:, 1].var()
    assert v0 >= v1
    explained = collected[0]["explained_var"]
    total_var = base.var(axis=0).sum()
    assert abs((v0 + v1) / total_var - explained) < 0.02
    assert explained > 0.5  # the two dominant axes carry most variance
    # determinism: second run produces identical components (sign convention)
    z2 = np.asarray([r["components"] for r in pca_project(df, k=2).collect()])
    ids1 = [r["vec_id"] for r in collected]
    order = np.argsort(ids1)
    z_sorted = z[order]
    out2 = sorted(pca_project(df, k=2).collect(), key=lambda r: r["vec_id"])
    z2_sorted = np.asarray([r["components"] for r in out2])
    assert np.allclose(z_sorted, z2_sorted, atol=1e-9)


def test_weighted_sample_k_is_deterministic_and_weight_proportional(spark):
    from dbt_meshify_spark.operators.sampling import weighted_sample_k

    rows = [(i, 10.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = weighted_sample_k(df, 50, "w", ["id"], seed="t1")
    ids = [r["id"] for r in out.collect()]
    assert len(ids) == len(set(ids)) == 50  # without replacement
    heavy = sum(1 for i in ids if i < 100)
    # heavy rows are 10x more likely; in a top-50 of 100+100 they dominate
    assert heavy >= 35, heavy
    again = {r["id"] for r in weighted_sample_k(df, 50, "w", ["id"], seed="t1").collect()}
    assert set(ids) == again
    other = {r["id"] for r in weighted_sample_k(df, 50, "w", ["id"], seed="t2").collect()}
    assert set(ids) != other
    # ranks are 1..k and ordered by the ES key
    ranks = sorted(r["draw_rank"] for r in out.collect())
    assert ranks == list(range(1, 51))


def test_calibrate_scores_per_domain_percentiles(spark):
    from dbt_meshify_spark.operators.domains import calibrate_scores

    rows = [(d * 100 + i, f"d{d}", float(i) * (d + 1)) for d in range(2) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = calibrate_scores(df).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["source"], []).append((r["quality"], r["score_pct"]))
    for dom, lst in by_dom.items():
        lst.sort()
        # percent_rank spans [0, 1] identically in every domain despite
        # different raw score scales
        assert lst[0][1] == 0.0 and lst[-1][1] == 1.0
        pcts = [p for _, p in lst]
        assert pcts == sorted(pcts)
    # a global threshold now selects the same fraction from each domain
    for dom, lst in by_dom.items():
        assert sum(1 for _, p in lst if p >= 0.7) == 3


def test_remove_contaminated_spans_planted(spark):
    from dbt_meshify_spark.operators.decontam import (
        contaminated_spans,
        remove_contaminated_spans,
    )

    leak = " ".join(f"leak{i}" for i in range(13))
    train = spark.createDataFrame(
        [
            (1, f"alpha beta {leak} gamma delta"),
            (2, "clean words only here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"eval prefix {leak} eval suffix")], "doc_id long, text string"
    )
    spans = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in
             contaminated_spans(train, ev).collect()}
    assert spans == {1: (3, 16)}  # tokens 3..15 are the 13-gram
    out = {r["doc_id"]: r for r in remove_contaminated_spans(train, ev).collect()}
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[1]["n_tokens_removed"] == 13
    assert out[2]["n_tokens_removed"] == 0
    assert out[2]["n_tokens_kept"] == 8


def test_dsir_weights_favor_target_like_docs(spark):
    from dbt_meshify_spark.operators.dsir import dsir_log_weights, dsir_resample_k

    # target slice speaks "alpha beta gamma"; off-distribution docs speak
    # "zig zag zug"; held-out target-like docs must outscore them
    rows = []
    for i in range(30):
        rows.append((i, "alpha beta gamma alpha beta gamma alpha beta", True))
    for i in range(30, 60):
        rows.append((i, "zig zag zug zig zag zug zig zag", False))
    rows.append((100, "alpha beta gamma alpha beta", False))  # target-like
    rows.append((101, "zig zag zug zig zag", False))          # raw-like
    rows.append((102, "solo", False))                          # no bigrams
    rows.append((103, None, False))                            # null text
    df = spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")

    out = dsir_log_weights(df, "is_target", num_buckets=256)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # every row comes back, null text included
    assert got[100]["dsir_logw"] > got[101]["dsir_logw"]
    assert got[102]["dsir_logw"] == 0.0 and got[102]["n_bigrams"] == 0
    assert got[103]["dsir_logw"] == 0.0 and got[103]["n_bigrams"] == 0
    # determinism
    again = {r["doc_id"]: r["dsir_logw"] for r in dsir_log_weights(
        df, "is_target", num_buckets=256).collect()}
    assert all(again[k] == got[k]["dsir_logw"] for k in again)

    # resampling: heavily-weighted (target-like) docs dominate the draw
    picked = dsir_resample_k(out, 20, ["doc_id"]).collect()
    assert len(picked) == 20
    assert len({r["doc_id"] for r in picked}) == 20  # without replacement
    ranks = {r["doc_id"]: r["draw_rank"] for r in picked}
    assert sorted(ranks.values()) == list(range(1, 21))
    target_like = {i for i in range(30)} | {100}
    assert len(target_like & set(ranks)) >= 15
    # deterministic draw
    again2 = {r["doc_id"]: r["draw_rank"]
              for r in dsir_resample_k(out, 20, ["doc_id"]).collect()}
    assert again2 == ranks


def test_apply_mixture_recipe_budgets_and_partition_invariance(spark):
    from dbt_meshify_spark.operators.sampling import apply_mixture_recipe

    rows = [
        (i, "en" if i % 2 == 0 else "fr", "web", 100 + (i % 7)) for i in range(80)
    ]
    rows.append((900, "de", "web", 50))       # cell absent from recipe
    rows.append((901, "en", "web", None))     # NULL tokens: dropped
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, n long")
    recipe = spark.createDataFrame(
        [("en", "web", 700), ("fr", "web", 350)],
        "lang string, source string, token_budget long",
    )
    order = [F.col("n").desc(), F.col("doc_id").asc()]

    out = apply_mixture_recipe(
        df, recipe, ["lang", "source"], token_col="n", order_by=order
    ).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault((r["lang"], r["source"]), []).append(r)
    assert set(by_cell) == {("en", "web"), ("fr", "web")}  # de dropped, no NULL row
    assert 900 not in {r["doc_id"] for r in out}
    assert 901 not in {r["doc_id"] for r in out}
    # budget respected per cell, and the fill is maximal (adding the next
    # best-first doc would overflow)
    for (lang, _), cell_rows in by_cell.items():
        budget = 700 if lang == "en" else 350
        total = sum(r["n"] for r in cell_rows)
        assert total <= budget
        assert max(r["cum_tokens_cell"] for r in cell_rows) == total
        remaining = [
            r for r in df.collect()
            if r["lang"] == lang and r["n"] is not None
            and r["doc_id"] not in {c["doc_id"] for c in cell_rows}
            and r["doc_id"] not in (900, 901)
        ]
        if remaining:
            next_n = max((r["n"], -r["doc_id"]) for r in remaining)[0]
            assert total + next_n > budget

    # identical output regardless of partition count (two-phase correctness)
    base = sorted((r["doc_id"], r["cum_tokens_cell"]) for r in out)
    for nparts in (1, 4, 16):
        again = apply_mixture_recipe(
            df, recipe, ["lang", "source"], token_col="n",
            order_by=order, num_partitions=nparts,
        ).collect()
        assert sorted((r["doc_id"], r["cum_tokens_cell"]) for r in again) == base


def test_ivf_index_round_trip_probe_matches_ivf_topk(spark, tmp_path):
    from dbt_meshify_spark.operators.similarity import (
        ivf_index,
        ivf_probe_index,
        ivf_topk,
    )
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    centroids, cells = ivf_index(emb, nlist=8)

    # persist both halves, reload, probe the STORED index
    cpath, apath = str(tmp_path / "cent"), str(tmp_path / "cells")
    centroids.write.parquet(cpath)
    cells.write.partitionBy("cell").parquet(apath)
    cent2 = spark.read.parquet(cpath)
    cells2 = spark.read.parquet(apath)

    q = emb.filter(F.col("vec_id") < 10)
    probed = ivf_probe_index(q, cent2, cells2, k=3, nprobe=3)
    rows = probed.collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, nbrs in by_q.items():
        assert [r["rank"] for r in sorted(nbrs, key=lambda r: r["rank"])] == list(
            range(1, len(nbrs) + 1)
        )
        assert all(r["neighbor_id"] != qid for r in nbrs)
        sims = [r["cos_sim"] for r in sorted(nbrs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)

    # same index params straight through ivf_topk: identical neighbor sets
    # (both paths share the deterministic trainer)
    direct = ivf_topk(q, emb, k=3, nlist=8, nprobe=3, iters=8)
    a = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rows)
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in direct.collect())
    assert a == b

    # determinism of the probe
    again = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_probe_index(q, cent2, cells2, k=3, nprobe=3).collect()
    )
    assert again == a


def test_ensure_ivf_index_caches_and_invalidates(spark, tmp_path):
    """The persisted IVF index must (a) train once and serve from parquet
    on repeat calls, (b) produce probe rows identical to a fresh in-memory
    index, and (c) rebuild when the source corpus is regenerated in place
    (fingerprint gate, same discipline as ensure_bucketed)."""
    import os
    import shutil

    from dbt_meshify_spark.operators.similarity import (
        ensure_ivf_index,
        ivf_index,
        ivf_probe_index,
    )
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "embeddings.parquet")
    shutil.copytree(os.path.join(SF_SMOKE, "embeddings.parquet"), src) if os.path.isdir(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    ) else shutil.copy(os.path.join(SF_SMOKE, "embeddings.parquet"), src)
    base = str(tmp_path / "ivf")
    emb = spark.read.parquet(src)

    c1, a1 = ensure_ivf_index(
        spark, emb, cache_key="t", nlist=8, source_path=src, base_dir=base
    )
    d = os.path.join(base, "ivf8_i8_1-t_6-vec_id_9-embedding")
    stamp = os.path.getmtime(os.path.join(d, "centroids", "_SUCCESS"))

    # warm call: served from parquet, no retrain (mtime unchanged)
    c2, a2 = ensure_ivf_index(
        spark, emb, cache_key="t", nlist=8, source_path=src, base_dir=base
    )
    assert os.path.getmtime(os.path.join(d, "centroids", "_SUCCESS")) == stamp

    # probe rows identical to a fresh in-memory index (deterministic train)
    q = emb.filter(F.col("vec_id") < 5)
    fc, fa = ivf_index(emb, nlist=8)
    key = lambda df: sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_probe_index(q, *df, k=3, nprobe=3).collect()
    )
    assert key((c2, a2)) == key((fc, fa))

    # regenerate the source in place -> fingerprint mismatch -> rebuild
    sub = spark.read.parquet(src).filter(F.col("vec_id") % 2 == 0).collect()
    shutil.rmtree(src, ignore_errors=True)
    if os.path.exists(src):
        os.remove(src)
    spark.createDataFrame(sub).coalesce(1).write.parquet(src)
    emb2 = spark.read.parquet(src)
    c3, a3 = ensure_ivf_index(
        spark, emb2, cache_key="t", nlist=8, source_path=src, base_dir=base
    )
    assert os.path.getmtime(os.path.join(d, "centroids", "_SUCCESS")) != stamp
    assert a3.count() == emb2.count()


def test_cache_slug_is_collision_proof_across_fields():
    """Length-prefixed segments keep the field boundary decodable: configs
    that a plain '_'-join would collide onto one cache dir must slug
    differently (the silent-stale-cache hazard)."""
    from dbt_meshify_spark.sources.bucketing import cache_slug

    assert cache_slug("k_a", "b") != cache_slug("k", "a_b")
    assert cache_slug("vec", "id_embedding") != cache_slug("vec_id", "embedding")
    assert cache_slug("t", "vec_id", "embedding") == "1-t_6-vec_id_9-embedding"
    # sanitization still applies within a field
    assert cache_slug("a/b", "c") == cache_slug("a_b", "c")
    # digit-leading segments can't forge the length prefix (the '-' rule)
    a = cache_slug("5z", "a" * 21, "w_21" + "a" * 21)
    b = cache_slug("z_21" + "a" * 21, "5w", "a" * 21)
    assert a != b


def test_ensure_bpe_merges_caches_and_invalidates(spark, tmp_path):
    """The persisted BPE merge table must (a) train once and serve from
    parquet on repeat calls — proven by handing the warm call a DIFFERENT
    corpus and still getting the cached merges back, (b) be bit-identical
    to a cold train (deterministic trainer), and (c) retrain when the
    source corpus is regenerated in place (fingerprint gate)."""
    import os

    from dbt_meshify_spark.operators.bpe import (
        ensure_bpe_merges,
        train_bpe_distributed,
    )

    corpus = [(i, "low lower lowest newer newest") for i in range(6)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(corpus, "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)
    base = str(tmp_path / "bpe")
    docs = spark.read.parquet(src)

    m1 = ensure_bpe_merges(
        spark, docs, cache_key="t", n_merges=3, source_path=src, base_dir=base
    )
    cold = train_bpe_distributed(docs, n_merges=3).orderBy("merge_rank").collect()
    assert m1 == [(r.lhs, r.rhs) for r in cold]
    d = os.path.join(base, "bpe3_1-t_4-text_4-char")  # slug folds in the alphabet
    stamp = os.path.getmtime(os.path.join(d, "merges", "_SUCCESS"))

    # warm call with a DIFFERENT corpus: cache wins => no retrain happened
    other = spark.createDataFrame(
        [(1, "zz zz zz zz qq qq")], "doc_id long, text string"
    )
    m2 = ensure_bpe_merges(
        spark, other, cache_key="t", n_merges=3, source_path=src, base_dir=base
    )
    assert m2 == m1
    assert os.path.getmtime(os.path.join(d, "merges", "_SUCCESS")) == stamp

    # regenerate the source in place -> fingerprint mismatch -> retrain
    import shutil

    shutil.rmtree(src)
    spark.createDataFrame(
        [(1, "aa aa bb bb cc cc dd dd")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    docs2 = spark.read.parquet(src)
    m3 = ensure_bpe_merges(
        spark, docs2, cache_key="t", n_merges=3, source_path=src, base_dir=base
    )
    cold2 = train_bpe_distributed(docs2, n_merges=3).orderBy("merge_rank").collect()
    assert m3 == [(r.lhs, r.rhs) for r in cold2]
    assert m3 != m1


def test_ivf_probe_q8_recall_tracks_fp32(spark, tmp_path):
    """The int8-quantized IVF probe must (a) return near-identical
    neighbor sets to the fp32 probe on the same index (recall@k >= 0.9
    averaged over queries — cell assignment is shared, only scores
    quantize), (b) keep per-pair cosine within the symmetric-quantization
    error bound, and (c) serve from the persisted q8 cache without
    rebuilding."""
    import os

    from dbt_meshify_spark.operators.similarity import (
        ensure_ivf_index_q8,
        ivf_index,
        ivf_probe_index,
        ivf_probe_index_q8,
        ivf_quantize_cells,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 8)
    centroids, cells = ivf_index(emb, nlist=8)
    qcells = ivf_quantize_cells(cells)

    fp = ivf_probe_index(q, centroids, cells, k=3, nprobe=4).collect()
    q8 = ivf_probe_index_q8(q, centroids, qcells, k=3, nprobe=4).collect()
    fp_n = {}
    q8_n = {}
    for r in fp:
        fp_n.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in q8:
        q8_n.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(fp_n) == set(q8_n)  # same queries answered
    recalls = [
        len(fp_n[k_] & q8_n[k_]) / len(fp_n[k_]) for k_ in fp_n
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls

    # per-pair score error bounded by quantization (loose envelope)
    fp_s = {(r.query_id, r.neighbor_id): r.cos_sim for r in fp}
    for r in q8:
        key = (r.query_id, r.neighbor_id)
        if key in fp_s:
            assert abs(r.cos_sim - fp_s[key]) < 0.02, (key, r.cos_sim, fp_s[key])

    # persisted q8 cache: build once, warm call doesn't rewrite
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    base = str(tmp_path / "ivfq8")
    c1, a1 = ensure_ivf_index_q8(
        spark, emb, cache_key="t", nlist=8, source_path=src, base_dir=base
    )
    assert dict(a1.dtypes)["q"] == "array<tinyint>"
    d = os.path.join(base, "ivfq8_8_i8_1-t_6-vec_id_9-embedding")
    stamp = os.path.getmtime(os.path.join(d, "cells", "_SUCCESS"))
    c2, a2 = ensure_ivf_index_q8(
        spark, emb, cache_key="t", nlist=8, source_path=src, base_dir=base
    )
    assert os.path.getmtime(os.path.join(d, "cells", "_SUCCESS")) == stamp
    assert a2.count() == emb.count()


def test_self_repetition_keeps_first_occurrence(spark):
    from dbt_meshify_spark.operators.dedup import (
        remove_self_repetition,
        self_repetition_spans,
    )

    para = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, f"{para} filler one two three four five six seven {para}"),
        (2, "a b " * 8),                      # periodic loop
        (3, "all distinct tokens here nothing repeats at all"),
        (4, None),
        (5, "x y z"),                          # exactly one gram, no repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    spans = {r["doc_id"]: r for r in self_repetition_spans(df, passage_tokens=3).collect()}
    assert 1 in spans and 2 in spans
    assert 3 not in spans and 4 not in spans and 5 not in spans

    out = {r["doc_id"]: r for r in remove_self_repetition(df, passage_tokens=3).collect()}
    assert len(out) == 5
    # doc 1: second copy of the paragraph cut, first copy + filler intact
    clean1 = out[1]["clean_text"]
    assert clean1.count("quick brown fox") == 1
    assert "filler one two three" in clean1
    assert out[1]["n_tokens_removed"] == 10
    # doc 2: periodic loop collapses to roughly one period + overlap slack;
    # the FIRST tokens survive
    assert out[2]["clean_text"].startswith("a b")
    assert out[2]["n_tokens_kept"] < 8
    # untouched docs round-trip (token-normalized)
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["clean_text"] == rows[2][1]
    assert out[4]["clean_text"] == "" and out[4]["n_tokens_kept"] == 0
    assert out[5]["n_tokens_removed"] == 0


def test_score_psi_detects_shift_and_smooths_empty_buckets(spark):
    from dbt_meshify_spark.operators.snapshots import score_psi

    base = spark.createDataFrame(
        [(i, i / 100.0) for i in range(100)], "id long, s double"
    )
    same = spark.createDataFrame(
        [(i, i / 100.0) for i in range(100)], "id long, s double"
    )
    shifted = spark.createDataFrame(
        [(i, min(0.99, 0.5 + i / 200.0)) for i in range(100)]
        + [(200, None)],  # NULL score dropped
        "id long, s double",
    )

    stable = score_psi(base, same, "s").collect()
    assert len(stable) == 10
    assert abs(stable[0]["psi_total"]) < 0.01
    drifted = score_psi(base, shifted, "s").collect()
    assert drifted[0]["psi_total"] > 0.25  # upper-half pile-up is a real shift
    # every bucket present even where a side is empty (Laplace smoothing)
    assert {r["bucket"] for r in drifted} == set(range(10))
    assert all(r["p_old"] > 0 and r["p_new"] > 0 for r in drifted)
    # out-of-range new scores clamp into edge buckets, not vanish
    wild = spark.createDataFrame([(i, 5.0) for i in range(50)], "id long, s double")
    clamped = score_psi(base, wild, "s").collect()
    assert sum(r["n_new"] for r in clamped) == 50
    assert next(r for r in clamped if r["bucket"] == 9)["n_new"] == 50


def test_source_boilerplate_detects_and_cuts_templates(spark):
    from dbt_meshify_spark.operators.dedup import (
        remove_source_boilerplate,
        source_boilerplate_passages,
    )

    footer = "subscribe to our newsletter today"
    rows = []
    for i in range(10):
        rows.append((i, "siteA", f"unique article body number {i} w{i} {footer}"))
    for i in range(10, 20):
        rows.append((i, "siteB", f"different content entirely item {i}"))
    # siteB shares the same footer in only ONE doc — below min_frac there
    rows.append((20, "siteB", f"odd one out {footer}"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    boiler = source_boilerplate_passages(
        df, passage_tokens=5, min_frac=0.5, min_docs=3
    ).collect()
    assert {r["source"] for r in boiler} == {"siteA"}
    assert any(r["passage"] == footer for r in boiler)
    assert all(r["doc_frac"] >= 0.5 for r in boiler)

    out = {r["doc_id"]: r for r in remove_source_boilerplate(
        df, passage_tokens=5, min_frac=0.5, min_docs=3
    ).collect()}
    assert len(out) == len(rows)
    for i in range(10):
        assert footer not in out[i]["clean_text"]
        assert f"unique article body number {i}" in out[i]["clean_text"]
        assert out[i]["n_tokens_removed"] == 5
    # siteB untouched, including the one doc that HAS the footer
    for i in range(10, 21):
        assert out[i]["n_tokens_removed"] == 0
    assert footer in out[20]["clean_text"]


def test_source_overlap_jaccard_and_stop_gram_cap(spark):
    from dbt_meshify_spark.operators.dedup import source_overlap

    rows = [
        (1, "A", "alpha beta gamma delta epsilon"),
        (2, "B", "alpha beta gamma delta epsilon"),        # clone of A's doc
        (3, "C", "totally different words everywhere here"),
        (4, "A", "more alpha beta gamma content"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r["source_a"], r["source_b"]): r for r in source_overlap(df).collect()}
    # A and B share all of B's grams; C overlaps nobody
    ab = out[("A", "B")]
    assert ab["n_common"] == 3
    assert ab["jaccard"] == round(3 / (5 + 3 - 3), 4)
    assert not any("C" in k for k in out)

    # a gram in every source is droppable via the stop-gram cap
    rows2 = [
        (i, s, f"universal gram here plus {s} private {s} tail")
        for i, s in enumerate(["A", "B", "C", "D"])
    ]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, text string")
    full = source_overlap(df2).collect()
    capped = source_overlap(df2, max_sources_per_gram=3).collect()
    assert len(full) == 6        # universal grams pair everyone
    assert len(capped) == 0      # cap drops them; private grams never pair


def test_tokenizer_fertility_invariants(spark):
    from dbt_meshify_spark.queries.extensions import ext_tokenizer_fertility
    from tests.conftest import SF_SMOKE

    rows = ext_tokenizer_fertility(spark, SF_SMOKE).collect()
    assert len(rows) >= 2
    for r in rows:
        # BPE splits words into >= 1 piece each, so fertility >= 1; and a
        # token carries at least one char on average
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] >= 1.0
        assert r["n_docs"] > 0 and r["n_bpe_tokens"] > 0
    again = ext_tokenizer_fertility(spark, SF_SMOKE).collect()
    assert sorted(map(str, again)) == sorted(map(str, rows))


def test_curation_report_first_fail_attribution(spark):
    from dbt_meshify_spark.operators.pipeline import (
        curate_corpus,
        curation_funnel,
        curation_report,
    )

    eng = ("the quick brown fox and a dog of the house and the yard "
           "jumped over the fence and the wall of the garden there")
    rows = [
        (1, eng),                                  # kept
        (2, eng),                                  # exact dup of 1 -> duplicate
        (3, "zzz qqq xxx vvv kkk www"),            # no lang markers -> language
        (4, "the " + "!!! ??? ,,, ;;; ... ::: " * 2),  # punct junk -> quality
        (5, "the fox saw extra unique suffix tokens appear here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame(
        [(100, "extra unique suffix tokens appear here definitely")],
        "doc_id long, text string",
    )  # shares most of doc 5's trigrams, none of doc 1's

    rep = {r["doc_id"]: r["drop_reason"]
           for r in curation_report(docs, eval_df).collect()}
    assert rep[1] == "kept"
    assert rep[2] == "duplicate"
    assert rep[3] == "language"
    assert rep[4] == "quality"
    assert rep[5] == "contaminated"
    assert len(rep) == len(rows)  # every input doc gets a verdict

    # the report's 'kept' set IS the pipeline's survivor set
    survivors = {r["doc_id"] for r in curate_corpus(docs, eval_df).collect()}
    assert {k for k, v in rep.items() if v == "kept"} == survivors

    funnel = {r["drop_reason"]: r["n_docs"]
              for r in curation_funnel(curation_report(docs, eval_df)).collect()}
    assert sum(funnel.values()) == len(rows)


def test_embedding_cell_psi_detects_topic_shift(spark):
    import random

    from dbt_meshify_spark.operators.snapshots import embedding_cell_psi

    rng = random.Random(7)

    def vec(center):
        return [c + rng.uniform(-0.05, 0.05) for c in center]

    a, b, c = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]
    base = [(i, vec(a if i % 2 == 0 else b)) for i in range(200)]
    base.append((998, None))  # NULL in the BASELINE must not crash training
    same = [(i + 1000, vec(a if i % 2 == 0 else b)) for i in range(200)]
    shifted = [(i + 2000, vec(c)) for i in range(200)]  # brand-new topic
    schema = "vec_id long, embedding array<double>"
    base_df = spark.createDataFrame(base, schema)

    stable = embedding_cell_psi(base_df, spark.createDataFrame(same, schema), nlist=4)
    drifted = embedding_cell_psi(
        base_df, spark.createDataFrame(shifted + [(9999, None)], schema), nlist=4
    )
    s_total = stable.collect()[0]["psi_total"]
    d_total = drifted.collect()[0]["psi_total"]
    assert s_total < 0.1          # same mixture -> stable
    assert d_total > 0.25         # new topic -> alarm
    assert d_total > s_total * 3
    # every cell row present; counts exclude the NULL embedding
    rows = drifted.collect()
    assert len(rows) == 4
    assert sum(r["n_new"] for r in rows) == 200


def test_funnel_windowed_tighter_than_unbounded(spark):
    from dbt_meshify_spark.queries.extensions import (
        ext_funnel_conversion,
        ext_funnel_windowed,
    )
    from tests.conftest import SF_ORACLE

    unbounded = {r["stage"]: r["n_users"]
                 for r in ext_funnel_conversion(spark, SF_ORACLE).collect()}
    windowed = {r["stage"]: r for r in ext_funnel_windowed(spark, SF_ORACLE).collect()}
    # view entry identical; each bounded stage can only lose users
    assert windowed["1_view"]["n_users"] == unbounded["1_view"]
    assert windowed["2_click"]["n_users"] <= unbounded["2_click"]
    assert windowed["3_purchase"]["n_users"] <= unbounded["3_purchase"]
    # rates are consistent with counts
    assert windowed["1_view"]["overall_rate"] == 1.0
    v, c = windowed["1_view"]["n_users"], windowed["2_click"]["n_users"]
    assert windowed["2_click"]["step_rate"] == round(c / v, 4)


def test_image_dhash_neardup_pairs(spark):
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        encode_ppm,
        image_dhash,
        image_neardup_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.randint(0, 256, size=(32, 48, 3)).astype("uint8")
    noisy = base.copy()
    noisy[::7, ::5] = np.clip(noisy[::7, ::5].astype(int) + 8, 0, 255).astype("uint8")
    other = rng.randint(0, 256, size=(32, 48, 3)).astype("uint8")
    rows = [
        (1, bytearray(encode_ppm(base))),
        (2, bytearray(encode_ppm(base))),        # exact dup
        (3, bytearray(encode_ppm(noisy))),       # near dup (mild noise)
        (4, bytearray(encode_ppm(other))),       # unrelated
        (5, bytearray(b"not a ppm payload")),    # codec-gate fallback
        (6, None),                               # null payload
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    assert hashes[1] == hashes[2]        # identical image, identical hash
    assert hashes[6] is None
    assert hashes[5] is not None         # fallback still fingerprints

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(media, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert not any(4 in p for p in pairs)
    # deterministic
    again = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_neardup_pairs(media, max_hamming=6).collect()}
    assert again == pairs


def test_audio_fingerprint_neardup_pairs(spark):
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        audio_neardup_pairs,
        encode_wav,
    )

    t = np.arange(8000) / 8000.0
    # amplitude-modulated tone: structured energy envelope
    base = (8000 * np.sin(2 * np.pi * 440 * t) * (0.5 + 0.5 * np.sin(2 * np.pi * 3 * t)))
    louder = base * 1.5                       # gain change: same envelope shape
    rng = np.random.RandomState(3)
    noisy = base + rng.normal(0, 150, len(base))
    other = (8000 * np.sin(2 * np.pi * 440 * t) * (0.5 + 0.5 * np.sin(2 * np.pi * 11 * t + 1.0)))
    rows = [
        (1, bytearray(encode_wav(base))),
        (2, bytearray(encode_wav(louder))),
        (3, bytearray(encode_wav(noisy))),
        (4, bytearray(encode_wav(other))),
        (5, bytearray(b"not audio")),
        (6, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_neardup_pairs(media, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0                # gain-invariant
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_video_neardup_shared_frames(spark):
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        encode_y4m,
        video_neardup_pairs,
    )

    rng = np.random.RandomState(5)
    clip_a = [rng.randint(0, 256, size=(16, 16, 3)).astype("uint8") for _ in range(8)]
    clip_b = [rng.randint(0, 256, size=(16, 16, 3)).astype("uint8") for _ in range(8)]
    trimmed_a = clip_a[:6]  # same footage, shorter cut
    rows = [
        (1, bytearray(encode_y4m(clip_a))),
        (2, bytearray(encode_y4m(clip_a))),       # exact re-encode
        (3, bytearray(encode_y4m(trimmed_a))),    # trimmed copy
        (4, bytearray(encode_y4m(clip_b))),       # unrelated
        (5, None),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {(r["id_a"], r["id_b"]): r for r in
             video_neardup_pairs(media, stride=1, min_jaccard=0.5).collect()}
    assert pairs[(1, 2)]["jaccard"] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)]["jaccard"] >= 0.5
    assert not any(4 in p for p in pairs)


def test_expire_versions_keeps_recent_and_current(spark, tmp_path):
    from dbt_meshify_spark.sources.lakehouse import (
        expire_versions,
        list_versions,
        merge_upsert,
        read_table_version,
    )

    target = str(tmp_path / "tbl")
    for i in range(5):
        batch = spark.createDataFrame([(1, f"text v{i}")], "doc_id long, text string")
        merge_upsert(spark, target, batch, keys=["doc_id"])
    assert list_versions(target) == [1, 2, 3, 4, 5]

    removed = expire_versions(spark, target, keep_last=2)
    assert removed == [1, 2, 3]
    assert list_versions(target) == [4, 5]
    # current still reads; the kept older snapshot still time-travels
    assert read_table_version(spark, target).collect()[0]["text"] == "text v4"
    assert read_table_version(spark, target, 4).collect()[0]["text"] == "text v3"
    # expired snapshot is really gone
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_table_version(spark, target, 2)
    # keep_last >= version count is a no-op; bad arg is a clear error
    assert expire_versions(spark, target, keep_last=10) == []
    with _pytest.raises(ValueError):
        expire_versions(spark, target, keep_last=0)


def test_compression_ratio_discriminates_repetition(spark):
    from dbt_meshify_spark.operators.text import compression_ratio

    rows = [
        (1, "the " * 200),                                   # degenerate loop
        (2, "a varied natural sentence with many distinct interesting words "
            "covering topics like weather music travel science and cooking"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert len(out) == 4
    assert out[1]["compression_ratio"] < 0.1          # loops crush
    assert out[2]["compression_ratio"] > out[1]["compression_ratio"] * 3
    assert out[3]["compression_ratio"] is None
    assert out[4]["compression_ratio"] is None        # empty: no ratio
    # determinism (fixed zlib level)
    again = {r["doc_id"]: r["compression_ratio"] for r in compression_ratio(df).collect()}
    assert all(again[k] == out[k]["compression_ratio"] for k in again)


def test_resample_forward_fill_grid_and_locf(spark):
    from datetime import datetime

    from dbt_meshify_spark.operators.temporal import resample_forward_fill

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 10.0),
        (1, datetime(2024, 1, 1, 0, 45), 11.0),   # same bucket, later wins
        (1, datetime(2024, 1, 1, 3, 10), 30.0),   # 2-hour gap to fill
        (2, datetime(2024, 1, 1, 5, 0), 99.0),    # single-point key
        (None, datetime(2024, 1, 1, 0, 0), 1.0),  # NULL key dropped
        (3, None, 5.0),                            # NULL ts dropped
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = resample_forward_fill(df).collect()
    g = {}
    for r in out:
        g.setdefault(r["user_id"], {})[r["bucket"].hour] = r
    assert set(g) == {1, 2}
    assert sorted(g[1]) == [0, 1, 2, 3]            # full grid, gaps included
    assert g[1][0]["value"] == 11.0                # latest-in-bucket wins
    assert g[1][1]["value"] == 11.0 and not g[1][1]["is_observed"]  # locf
    assert g[1][2]["value"] == 11.0
    assert g[1][3]["value"] == 30.0 and g[1][3]["is_observed"]
    assert list(g[2]) == [5] and g[2][5]["value"] == 99.0


def test_skew_report_finds_hot_key_and_nulls(spark):
    from dbt_meshify_spark.operators.skew import skew_report

    rows = [(i, "hot" if i % 2 == 0 else f"cold{i}", None if i < 10 else i)
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, k string, j long")
    out = skew_report(df, ["k", "j"], k=3).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r["column"], []).append(r)
    kk = sorted(by_col["k"], key=lambda r: r["rank"])
    assert kk[0]["value"] == "hot" and kk[0]["n"] == 50
    assert kk[0]["share"] == 0.5
    jj = sorted(by_col["j"], key=lambda r: r["rank"])
    assert jj[0]["value"] is None and jj[0]["n"] == 10  # NULL skew surfaces
    assert all(len(v) == 3 for v in by_col.values())


def test_hashed_embedding_similarity_properties(spark):
    import math

    from dbt_meshify_spark.operators.text import hashed_embedding

    rows = [
        (1, "machine learning models train on data"),
        (2, "machine learning models train on data"),   # identical
        (3, "cooking recipes require fresh garden vegetables"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = {r["doc_id"]: r["hvec"] for r in hashed_embedding(df, dims=16).collect()}
    assert len(vecs) == 5

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert vecs[1] == vecs[2]                       # deterministic
    assert abs(dot(vecs[1], vecs[1]) - 1.0) < 1e-9  # unit norm
    assert dot(vecs[1], vecs[3]) < 0.5              # disjoint vocab far apart
    assert all(v == 0.0 for v in vecs[4])           # null text -> zero vector


def test_uncertainty_sample_picks_boundary_docs(spark):
    from dbt_meshify_spark.queries.extensions import ext_uncertainty_sample
    from tests.conftest import SF_ORACLE

    rows = ext_uncertainty_sample(spark, SF_ORACLE).collect()
    assert len(rows) == 50
    margins = [r["margin"] for r in rows]
    assert all(0.0 <= m <= 0.5 for m in margins)
    # the selected max margin must not exceed the corpus-wide median margin
    # (we picked the UNCERTAIN tail, not a random slice) — measured on the
    # same NB-posterior scores the query ranks
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    all_m = (
        classify_documents(docs, w)
        .filter(F.col("score").isNotNull())
        .selectExpr("abs(score - 0.5) AS m")
        .approxQuantile("m", [0.5], 0.01)[0]
    )
    assert max(margins) <= all_m
    again = ext_uncertainty_sample(spark, SF_ORACLE).collect()
    assert sorted(map(str, again)) == sorted(map(str, rows))


def test_lsh_plan_matches_s_curve_math(spark):
    import pytest as _pytest

    from dbt_meshify_spark.operators.dedup import lsh_plan

    p = lsh_plan(0.5, num_hashes=128)
    assert p["bands"] * p["rows_per_band"] == 128
    assert abs(p["threshold"] - (1.0 / p["bands"]) ** (1.0 / p["rows_per_band"])) < 1e-3
    assert abs(p["threshold"] - 0.5) < 0.15
    # the curve must be monotone around the target
    assert p["p_below"] < p["p_at_target"] < p["p_above"]
    # a high threshold wants more rows per band (sharper, fewer candidates)
    hi = lsh_plan(0.9, num_hashes=128)
    assert hi["rows_per_band"] >= p["rows_per_band"]
    with _pytest.raises(ValueError):
        lsh_plan(1.5)


def test_training_data_build_invariants(spark):
    from dbt_meshify_spark.operators.pipeline import curate_corpus
    from dbt_meshify_spark.queries.extensions import ext_training_data_build
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    rows = ext_training_data_build(spark, SF_ORACLE).collect()
    assert len(rows) > 0
    # budget respected and the fill is the cum-ordered prefix
    assert max(r["cum_tokens"] for r in rows) <= 60_000
    total = sum(r["n_chars_norm"] for r in rows)
    assert total == max(r["cum_tokens"] for r in rows)
    # every selected doc is a curation survivor (no leak around the gates)
    docs = load_table(spark, SF_ORACLE, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    survivors = {r["doc_id"] for r in curate_corpus(train, eval_df).collect()}
    assert {r["doc_id"] for r in rows} <= survivors
    # shards cover and no shard hogs
    shards = {r["shard_id"] for r in rows}
    assert shards <= set(range(8)) and len(shards) >= 4
    again = ext_training_data_build(spark, SF_ORACLE).collect()
    assert sorted(map(str, again)) == sorted(map(str, rows))


def test_triangle_counts_known_graph(spark):
    from dbt_meshify_spark.operators.graph_rank import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3), a pendant 5, a
    # disconnected pair 6-7, a self-loop and NULLs to drop
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (6, 7), (3, 3), (None, 1), (2, None),
             (2, 1)]  # reverse duplicate must not double-count
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}  # pendant/pair/self-loop: zero


def test_star_rounds_beat_propagate_on_whale_chain(spark):
    """Measured round-count comparison on a planted 1k-node whale chain
    (diameter 999): min-label propagation moves the min one hop per round
    (needs ~999), the star alternation halves chain length per round pair
    (O(log^2 n)). Numbers recorded in SCALE.md — keep them in sync."""
    from dbt_meshify_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1000)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    star_stats: dict = {}
    comp = {
        r.id: r.component
        for r in connected_components(
            pairs, max_iter=30, variant="star", stats=star_stats
        ).collect()
    }
    assert all(comp[i] == 0 for i in range(1001))
    assert star_stats["rounds"] <= 25  # O(log^2 1000) ~ 1 + log2(1000)
    # propagate on a SMALL chain for the round-count contrast (running the
    # full 1k chain to convergence is ~999 serial Spark jobs)
    small = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    prop_stats: dict = {}
    connected_components(
        small, max_iter=100, variant="propagate", stats=prop_stats
    ).collect()
    star_small: dict = {}
    connected_components(small, max_iter=30, variant="star", stats=star_small).collect()
    assert prop_stats["rounds"] >= 64  # one hop per round on diameter 64
    assert star_small["rounds"] < prop_stats["rounds"] // 2


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """dangling='redistribute': total rank mass must be exactly 1 every
    run regardless of sink structure (the star graph's hub is a pure
    sink), while the teleport model leaks sink mass. Ordering invariants
    hold in both models."""
    from dbt_meshify_spark.operators.graph_rank import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "b")], ["src", "dst"]
    )
    red = {
        r.id: r.pagerank
        for r in pagerank(edges, iters=10, dangling="redistribute").collect()
    }
    assert abs(sum(red.values()) - 1.0) < 1e-9  # mass conservation
    assert red["hub"] > red["b"] > red["a"] == red["c"]
    tel = {r.id: r.pagerank for r in pagerank(edges, iters=10).collect()}
    assert sum(tel.values()) < 1.0 - 1e-6  # teleport model leaks sink mass
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank(edges, dangling="nope")


def test_triangle_degree_orientation_matches_id_and_bounds_fanout(spark):
    """Degree orientation must (a) agree with id orientation on counts and
    (b) bound the wedge-join fan-out on a hub graph: a 100-leaf hub has
    in-degree 100 under degree orientation but out-degree ~0, so no key
    in the wedge self-join exceeds the leaf degree."""
    from dbt_meshify_spark.operators.graph_rank import (
        _orient_by_degree,
        triangle_counts,
    )

    # hub 0 wired to 1..100; triangle edges along the rim (1,2),(2,3),...
    hub = [(0, i) for i in range(1, 101)]
    rim = [(i, i + 1) for i in range(1, 100)]
    df = spark.createDataFrame(hub + rim, "src int, dst int")
    by_id = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    by_deg = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, orient="degree").collect()
    }
    assert by_deg == by_id
    assert by_id[0] == 99  # hub corners every rim triangle
    # skew bound: the wedge join keys on the OUT side; under degree
    # orientation every rim node has out-degree <= 3 and the hub ~0,
    # where id orientation gives node 0 out-degree 100
    e = df.selectExpr("least(src,dst) AS lo", "greatest(src,dst) AS hi").distinct()
    out_deg = {
        r["u"]: r["n"]
        for r in _orient_by_degree(e).groupBy("u").agg(F.count("*").alias("n")).collect()
    }
    assert max(out_deg.values()) <= 3
    assert out_deg.get(0, 0) == 0  # the hub emits no wedges
    import pytest as _pytest

    with _pytest.raises(ValueError):
        triangle_counts(df, orient="nope")


def test_decode_image_pil_gate():
    """decode_image routes non-PPM payloads through PIL when installed and
    through the documented NotImplementedError gate when not — both sides
    of the optional-codec seam are exercised whichever environment runs."""
    import numpy as np
    import pytest as _pytest

    from dbt_meshify_spark.operators.multimodal import (
        _try_import_pil,
        decode_image,
        encode_ppm,
    )

    rgb = (np.arange(9 * 8 * 3, dtype=np.uint8)).reshape(9, 8, 3)
    assert np.array_equal(decode_image(encode_ppm(rgb)), rgb)  # PPM: always real
    pil = _try_import_pil()
    if pil is None:
        with _pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG\r\n\x1a\nfake")
    else:
        import io

        im = pil.fromarray(rgb)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        assert np.array_equal(decode_image(buf.getvalue()), rgb)


def test_image_dhash_real_codec_when_available(spark):
    """With PIL installed, a PNG and its PPM twin must produce the SAME
    dHash (the fingerprint is codec-invariant by construction); without
    PIL the PNG takes the md5 stand-in and the test skips the parity
    half."""
    import numpy as np
    import pytest as _pytest

    from dbt_meshify_spark.operators.multimodal import (
        _try_import_pil,
        encode_ppm,
        image_dhash,
    )

    pil = _try_import_pil()
    if pil is None:
        _pytest.skip("PIL not installed; PNG parity needs the real codec")
    import io

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    buf = io.BytesIO()
    pil.fromarray(rgb).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, bytearray(encode_ppm(rgb))), (2, bytearray(buf.getvalue()))],
        "media_id long, payload binary",
    )
    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    assert hashes[1] == hashes[2]


def test_cc_auto_tier_picks_cheap_then_falls_back(spark):
    """auto = propagate for cheap typical graphs, star for whales: on a
    clique pile it must converge inside the probe budget on the propagate
    tier; on a chain longer than the probe budget it must fall back to
    star and still produce the exact component map."""
    from dbt_meshify_spark.operators.dedup import (
        _AUTO_PROBE_ROUNDS,
        connected_components,
    )

    cliques = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    s1: dict = {}
    c1 = {
        r.id: r.component
        for r in connected_components(cliques, variant="auto", stats=s1).collect()
    }
    assert s1["tier"] == "propagate" and s1["rounds"] <= _AUTO_PROBE_ROUNDS
    assert c1[3] == 1 and c1[11] == 10 and c1[22] == 20
    whale = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 164)], "id_a long, id_b long"
    )
    s2: dict = {}
    c2 = {
        r.id: r.component
        for r in connected_components(whale, variant="auto", stats=s2).collect()
    }
    assert s2["tier"] == "star"
    assert all(c2[i] == 100 for i in range(100, 165))


def test_ngram_containment_finds_quote_inclusion(spark):
    """A short doc fully quoted inside a long doc must score containment
    1.0 (with the short side as inner_id) even though symmetric Jaccard is
    far below any dedup threshold — the asymmetric-size case the
    containment tier exists for."""
    from dbt_meshify_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    rows = [
        (1, quote),
        (2, f"{filler} {quote} {filler}"),
        (3, "entirely unrelated content about distributed query planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in ngram_containment_pairs(df).collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)].containment == 1.0 and out[(1, 2)].inner_id == 1
    # symmetric jaccard misses the same pair at any dedup-grade threshold
    assert not ngram_jaccard_pairs(df, min_jaccard=0.5).collect()


def test_winnowing_guarantee_and_density(spark):
    """The winnowing guarantee: two docs sharing a verbatim run of
    >= window + k - 1 tokens MUST share a selected print regardless of
    surrounding text; and selection keeps roughly 1/window of gram hashes
    (well under half), which is the point of fingerprinting at scale."""
    from dbt_meshify_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    k, window = 5, 4
    shared = " ".join(f"common{i}" for i in range(k + window - 1))  # 8 tokens
    pre_a = " ".join(f"alpha{i}" for i in range(30))
    pre_b = " ".join(f"beta{i}" for i in range(30))
    rows = [
        (1, f"{pre_a} {shared}"),
        (2, f"{shared} {pre_b}"),
        (3, " ".join(f"gamma{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(df, k=k, window=window, min_shared=1).collect()
    }
    assert (1, 2) in pairs and not any(3 in p for p in pairs)
    # density: doc 3 has 40 tokens -> 36 grams; expect far fewer prints
    n_prints = winnow_fingerprints(df, k=k, window=window).filter(
        F.col("doc_id") == 3
    ).count()
    assert 0 < n_prints < 18


def test_keyword_tag_multilabel_counts(spark):
    from dbt_meshify_spark.operators.text import keyword_tag

    docs = spark.createDataFrame(
        [
            (1, "table scan meets stream window in the table"),
            (2, "nothing relevant whatsoever appears here"),
            (3, "STREAM Stream stream"),  # case-folded occurrence counts
        ],
        "doc_id long, text string",
    )
    tax = {"db": ["table", "scan"], "flow": ["stream", "window"]}
    out = {(r.doc_id, r.topic): r.n_hits for r in keyword_tag(docs, tax).collect()}
    assert out == {(1, "db"): 3, (1, "flow"): 2, (3, "flow"): 3}


def test_gram_novelty_separates_copies_from_fresh(spark):
    from dbt_meshify_spark.operators.snapshots import gram_novelty

    ref = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again"),  # copy
            (11, "entirely novel content about distributed shuffle plans"),
            (12, "the quick brown fox visits unfamiliar territory today"),  # partial
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gram_novelty(new, ref).collect()}
    assert out[10].novelty == 0.0
    assert out[11].novelty == 1.0
    assert 0.0 < out[12].novelty < 1.0


def test_image_phash_invariances_and_neardup(spark):
    """pHash must be exactly invariant to brightness shift + contrast
    scale (DC dropped, median comparisons scale-invariant) and near-equal
    under mild blur; unrelated patterns must stay far apart; pairs surface
    through the shared banding."""
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        encode_ppm,
        image_phash,
        image_phash_neardup_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.integers(0, 200, size=(32, 48, 3)).astype(np.uint8)
    bright = np.clip(base.astype(int) + 40, 0, 255).astype(np.uint8)
    contrast = np.clip(base.astype(float) * 1.2, 0, 255).astype(np.uint8)
    blur = base.astype(float)
    blur[1:-1] = (blur[:-2] + blur[1:-1] + blur[2:]) / 3.0  # vertical box blur
    blur = np.clip(blur, 0, 255).astype(np.uint8)
    other = rng.integers(0, 255, size=(32, 48, 3)).astype(np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(base))),
            (2, bytearray(encode_ppm(bright))),
            (3, bytearray(encode_ppm(contrast))),
            (4, bytearray(encode_ppm(blur))),
            (5, bytearray(encode_ppm(other))),
        ],
        "media_id long, payload binary",
    )
    h = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(h[1], h[2]) == 0  # brightness: exact invariance
    assert ham(h[1], h[3]) == 0  # contrast: exact invariance
    assert ham(h[1], h[4]) <= 6  # blur: low-frequency block barely moves
    assert ham(h[1], h[5]) > 12  # unrelated: far
    pairs = {
        (r.id_a, r.id_b)
        for r in image_phash_neardup_pairs(media).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(5 in p for p in pairs)


def test_media_integrity_report_classifies_each_failure(spark):
    import numpy as np

    from dbt_meshify_spark.operators.multimodal import (
        encode_ppm,
        encode_wav,
        media_integrity_report,
    )

    good_img = encode_ppm(np.zeros((4, 6, 3), dtype=np.uint8))
    good_wav = encode_wav(np.zeros(100, dtype=np.int16))
    rows = [
        (1, bytearray(good_img), {"kind": "image", "format": "ppm",
                                  "width": 6, "height": 4, "duration_ms": None}),
        (2, bytearray(good_img), {"kind": "image", "format": "ppm",
                                  "width": 99, "height": 4, "duration_ms": None}),
        (3, bytearray(b"P6\n10 10\n255\nshort"), None),     # truncated
        (4, bytearray(b""), None),                           # empty
        (5, None, None),                                     # null
        (6, bytearray(b"mystery bytes here"), None),         # unknown
        (7, bytearray(good_wav), None),                      # wav ok
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("format", T.StringType()),
                        T.StructField("width", T.IntegerType()),
                        T.StructField("height", T.IntegerType()),
                        T.StructField("duration_ms", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    media = spark.createDataFrame(rows, schema)
    out = {r["media_id"]: (r["status"], r["detected_format"])
           for r in media_integrity_report(media).collect()}
    assert out[1] == ("ok", "ppm")
    assert out[2] == ("meta_mismatch", "ppm")
    assert out[3] == ("undecodable", "ppm")
    assert out[4] == ("empty_payload", "none")
    assert out[5] == ("null_payload", "none")
    assert out[6] == ("unknown_format", "unknown")
    assert out[7] == ("ok", "wav")


def test_extract_html_text_strips_and_decodes(spark):
    from dbt_meshify_spark.operators.text import extract_html_text

    rows = [
        (1, '<html><head><title> T &amp; U </title><style>p{x:1}</style></head>'
            '<body><!-- c --><p>one</p><ul><li>two</li></ul>'
            '<script>var a = "<p>not text</p>";</script>'
            '<div>x &lt;y&gt;&nbsp;&quot;z&#39;</div>'
            '<p>escaped: &amp;lt;tag&amp;gt; &amp;amp;</p></body></html>'),
        (2, 'plain text, no tags'),
        (3, '<p>unclosed <b>bold'),  # malformed: must not crash or drop
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in extract_html_text(df).collect()}
    assert out[1].title == "T & U"
    # script/style/comment gone; block closers became newlines; entities decoded
    assert "not text" not in out[1].text_extracted
    assert "x:1" not in out[1].text_extracted
    body = out[1].text_extracted
    assert "one\n" in body and "two\n" in body
    assert 'x <y> "z\'' in body
    # &amp; decodes LAST: "&amp;lt;" is the literal five-char "&lt;", not "<"
    assert "escaped: &lt;tag&gt; &amp;" in body
    assert out[2].text_extracted == "plain text, no tags" and out[2].title == ""
    assert out[3].text_extracted == "unclosed bold"
    assert out[4].text_extracted is None  # NULL propagates, row kept


def test_script_profile_counts_and_ratios(spark):
    from dbt_meshify_spark.operators.text import script_profile

    df = spark.createDataFrame(
        [(1, "ab данные 数 ب 12"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in script_profile(df).collect()}
    r = out[1]
    assert (r.n_latin, r.n_cyrillic, r.n_han, r.n_arabic, r.n_digit, r.n_space) == (
        2, 6, 1, 1, 2, 4,
    )
    assert r.n_other == 0 and r.n_chars_total == 16
    assert r.ratio_latin == round(2 / 16, 4)
    assert out[2].n_chars_total == 0 and out[2].ratio_latin == 0.0
    assert out[3].n_chars_total is None  # NULL text propagates


def test_canonicalize_url_rules(spark):
    from dbt_meshify_spark.operators.text import canonicalize_url

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Path/A/?utm_source=f&id=3&fbclid=x#frag"),
        (2, "http://site.org"),                      # empty path -> /
        (3, "http://site.org:80/a/"),                # default port + trailing slash
        (4, "https://h.io/x?utm_a=1&utm_b=2"),       # tracking-only query drops
        (5, "https://h.io/x?b=2&a=1"),               # param ORDER preserved
        (6, "not a url"),                            # malformed passthrough
        (7, "ftp://Host.Net:21/f"),                  # non-default port kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r.url_canonical for r in canonicalize_url(df).collect()}
    assert out[1] == "https://example.com/Path/A?id=3"
    assert out[2] == "http://site.org/"
    assert out[3] == "http://site.org/a"
    assert out[4] == "https://h.io/x"
    assert out[5] == "https://h.io/x?b=2&a=1"
    assert out[6] == "not a url"
    assert out[7] == "ftp://host.net:21/f"


def test_conversation_stats_contract(spark):
    from dbt_meshify_spark.operators.text import conversation_stats

    rows = [
        (1, '[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]'),
        (2, '[{"role":"user","content":"a"},{"role":"user","content":"b"},'
            '{"role":"assistant","content":"c"}]'),          # no alternation
        (3, "not json"),                                      # parse reject
        (4, '[{"role":"system","content":"x"},{"role":"assistant","content":" "}]'),
        (5, '[{"role":"user","content":"only one turn"}]'),   # too short
        (6, '[{"role":"user","content":"q1"},{"role":"assistant","content":"a1"},'
            '{"role":"user","content":"q2"},{"role":"assistant","content":"a2"}]'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, conversation string")
    out = {r.doc_id: r for r in conversation_stats(df).collect()}
    assert out[1].is_valid and out[1].n_turns == 2 and out[1].total_chars == 4
    assert not out[2].is_valid  # user twice in a row
    assert out[3].n_turns == -1 and not out[3].is_valid  # rejects are COUNTED
    assert not out[4].is_valid and out[4].n_empty_turns == 1
    assert not out[5].is_valid and out[5].last_role == "user"
    assert out[6].is_valid and out[6].n_turns == 4


def test_concentration_report_bounds(spark):
    from dbt_meshify_spark.operators.skew import concentration_report

    # perfectly uniform mass -> gini 0, hhi_norm 0
    uni = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 10), ("d", 10)], "k string, w int"
    )
    r = concentration_report(uni, "k", "w").collect()[0]
    assert (r.n_keys, r.gini, r.hhi_norm) == (4, 0.0, 0.0)
    # all mass on one of n keys -> gini (n-1)/n, hhi_norm 1; NULL weight = 0
    one = spark.createDataFrame(
        [("a", 100), ("b", 0), ("c", None)], "k string, w int"
    )
    r = concentration_report(one, "k", "w").collect()[0]
    assert (r.n_keys, r.total_weight) == (3, 100.0)
    assert r.gini == round(2 / 3, 4) and r.hhi_norm == 1.0


def test_bitext_mine_recovers_pairs_and_rejects_hub(spark):
    """Planted parallel pairs must come back exactly; a hub vector (close
    to EVERYTHING on the other side) must be excluded by the mutual-top-1
    margin rule even though its raw cosine to every source clears any
    reasonable absolute threshold."""
    from dbt_meshify_spark.operators.similarity import bitext_mine

    X = [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (4, [0.0, 0.0, 1.0, 0.0])]
    Y = [(1, [0.95, 0.05, 0.0, 0.0]), (3, [0.05, 0.95, 0.0, 0.0]),
         (5, [0.0, 0.05, 0.95, 0.0]),
         (7, [0.577, 0.577, 0.577, 0.0])]  # hub: cos ~0.58 with every x
    xs = spark.createDataFrame(X, "vec_id long, embedding array<double>")
    ys = spark.createDataFrame(Y, "vec_id long, embedding array<double>")
    out = bitext_mine(xs, ys, k=3, margin_threshold=1.05)
    rows = {(r.src_id, r.tgt_id): r for r in out.collect()}
    assert set(rows) == {(0, 1), (2, 3), (4, 5)}
    assert all(r.margin > 1.05 and r.cos_sim > 0.9 for r in rows.values())
    # the hub is every x's SECOND-best raw match yet mines nothing
    assert not any(t == 7 for (_, t) in rows)


def test_bitext_mine_candidate_tier_both_directions(spark):
    """The 100 TB path: LSH candidates supplied for BOTH directions (and
    the derived-backward fallback) must recover the exact tier's mutual
    pairs on the planted corpus without ever running the corpus-wide
    exact scorer (no BroadcastNestedLoopJoin in the plan)."""
    from dbt_meshify_spark.operators.similarity import (
        bitext_mine,
        lsh_bucketed_topk,
    )

    X = [(0, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (4, [0.0, 0.0, 1.0, 0.0])]
    Y = [(1, [0.95, 0.05, 0.0, 0.0]), (3, [0.05, 0.95, 0.0, 0.0]),
         (5, [0.0, 0.05, 0.95, 0.0]),
         (7, [0.577, 0.577, 0.577, 0.0])]
    xs = spark.createDataFrame(X, "vec_id long, embedding array<double>")
    ys = spark.createDataFrame(Y, "vec_id long, embedding array<double>")
    exact = {(r.src_id, r.tgt_id)
             for r in bitext_mine(xs, ys, k=3, margin_threshold=1.05).collect()}
    assert exact == {(0, 1), (2, 3), (4, 5)}

    lsh_kw = dict(k=3, dims=4, num_planes=16, bands=8)
    fwd = lsh_bucketed_topk(xs, ys, **lsh_kw)
    bwd = lsh_bucketed_topk(ys, xs, **lsh_kw)

    # explicit candidates both directions
    out2 = bitext_mine(xs, ys, k=3, margin_threshold=1.05,
                       candidates=fwd, candidates_bwd=bwd)
    assert {(r.src_id, r.tgt_id) for r in out2.collect()} == exact

    # derived-backward fallback (forward candidates only)
    out1 = bitext_mine(xs, ys, k=3, margin_threshold=1.05, candidates=fwd)
    assert {(r.src_id, r.tgt_id) for r in out1.collect()} == exact

    # plan guard: candidate-tier mining never falls back to the exact
    # corpus-wide scorer (whose != join is a BroadcastNestedLoopJoin)
    for df in (out1, out2):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (
            "corpus-wide exact scorer ran despite supplied candidates"
        )


def test_semantic_contamination_flags_paraphrase_leaks(spark):
    """A near-copy of an eval vector must flag; an orthogonal vector must
    not; every corpus row appears in the verdict (rejects are counted)."""
    from dbt_meshify_spark.operators.decontam import semantic_contamination

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.02, 0.0]),   # near-copy of eval e1 -> contaminated
         (2, [0.0, 0.0, 1.0]),    # orthogonal -> clean
         (3, [0.7, 0.7, 0.0])],   # diagonal: cos ~0.71 vs e1 -> contaminated
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in
           semantic_contamination(corpus, ev, threshold=0.7).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].contaminated and out[1].max_eval_cos > 0.99
    assert not out[2].contaminated and out[2].max_eval_cos == 0.0
    assert out[3].contaminated  # flag uses the ROUNDED max


def test_preference_pair_stats_contract(spark):
    from dbt_meshify_spark.operators.text import preference_pair_stats

    rows = [
        (1, '{"prompt":"p","chosen":"good","rejected":"bad"}'),
        (2, '{"prompt":"p","chosen":"same","rejected":"same"}'),  # no signal
        (3, '{"prompt":"","chosen":"a","rejected":"b"}'),          # blank prompt
        (4, '{"prompt":"p","chosen":"a"}'),                        # missing field
        (5, "not json"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, preference string")
    out = {r.doc_id: r for r in preference_pair_stats(df).collect()}
    assert out[1].is_valid and out[1].chosen_chars == 4
    assert not out[2].is_valid and out[2].identical_pair
    assert not out[3].is_valid and out[3].n_blank_fields == 1
    assert not out[4].is_valid and out[4].rejected_chars == -1
    assert not out[5].is_valid and not out[5].parsed


def test_code_markup_profile_discriminates(spark):
    from dbt_meshify_spark.operators.text import code_markup_profile

    rows = [
        (1, "def f(x):\n    return {x: 1};\n    y = a<b>(c)"),
        (2, "# Title\n## Section\nplain prose here"),
        (3, "\\begin{equation} x \\alpha \\end{equation}"),
        (4, "```\nfenced()\n```"),
        (5, "just ordinary prose with no markup at all and some length"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in code_markup_profile(df).collect()}
    assert out[1].is_code_like and out[1].indent_frac > 0.5
    assert out[2].is_markup_like and out[2].header_frac == round(2 / 3, 4)
    assert out[3].is_markup_like and out[3].n_latex_cmds == 3
    assert out[4].is_code_like and out[4].n_fences == 2
    assert not out[5].is_code_like and not out[5].is_markup_like
    assert out[6].sym_density == 0.0 and not out[6].is_code_like


def test_turn_echo_scores_detects_restated_responses(spark):
    from dbt_meshify_spark.operators.text import turn_echo_scores

    rows = [
        (1, '[{"role":"user","content":"the quick brown fox jumps high"},'
            '{"role":"assistant","content":"the quick brown fox jumps high"}]'),
        (2, '[{"role":"user","content":"the quick brown fox jumps high"},'
            '{"role":"assistant","content":"completely different answer text here"}]'),
        (3, '[{"role":"user","content":"first question about spark joins"},'
            '{"role":"assistant","content":"short no"},'
            '{"role":"user","content":"tell me about shuffle behavior now"},'
            '{"role":"assistant","content":"tell me about shuffle behavior now"}]'),
        (4, "not json"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, conversation string")
    out = {r.doc_id: r for r in turn_echo_scores(df).collect()}
    assert out[1].is_echo and out[1].max_echo == 1.0
    assert not out[2].is_echo and out[2].max_echo == 0.0
    # turn 2 ("short no") is too short to score; turn 4 is a full echo
    assert out[3].n_scored_turns == 1 and out[3].max_echo == 1.0
    assert out[4].n_scored_turns == 0 and not out[4].is_echo  # reject kept


def test_user_activity_report_ranks_fast_cadence_first(spark):
    from datetime import datetime as dt

    from dbt_meshify_spark.operators.temporal import user_activity_report

    def t(s):
        return dt(2024, 1, 1, 0, 0, s)

    rows = (
        # bot: 1s cadence, 5 events
        [(i, t(i), 100) for i in range(5)]
        # human: 10-minute cadence
        + [(10 + i, dt(2024, 1, 1, 0, 10 * i, 0), 200) for i in range(4)]
        # single-event user: no gaps, ranked last (NULLS LAST)
        + [(99, t(30), 300)]
    )
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.user_id: r for r in user_activity_report(df).collect()}
    assert out[100].suspect_rank == 1 and out[100].median_gap_s == 1.0
    assert out[200].suspect_rank == 2 and out[200].median_gap_s == 600.0
    assert out[300].suspect_rank == 3 and out[300].n_gaps == 0
    assert out[100].burst_frac == 1.0 and out[100].n_events == 5


def test_label_propagation_separates_dense_communities(spark):
    """Two 4-cliques joined by a single bridge edge: LPA must resolve two
    communities where connected components sees one; ties adopt the
    smallest label; NULLs and self-loops drop."""
    from itertools import combinations

    from dbt_meshify_spark.operators.graph_rank import label_propagation

    c1 = list(combinations([1, 2, 3, 4], 2))
    c2 = list(combinations([11, 12, 13, 14], 2))
    edges = c1 + c2 + [(4, 11), (2, 2), (None, 1)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r.id: r.community for r in label_propagation(df, iters=4).collect()}
    assert len({out[i] for i in (1, 2, 3, 4)}) == 1
    assert len({out[i] for i in (11, 12, 13, 14)}) == 1
    assert out[1] != out[11]  # the bridge does NOT merge the cliques
    # isolated pair: both adopt the smaller label
    pair = spark.createDataFrame([(7, 9)], "src int, dst int")
    pout = {r.id: r.community for r in label_propagation(pair, iters=3).collect()}
    assert pout[7] == pout[9]


def test_bpe_train_distributed_matches_driver_trainer(spark):
    """On a corpus whose words have no >=3 identical-char runs (where the
    single-pass replace is exactly leftmost-greedy), the distributed
    trainer must learn the SAME merge sequence as the driver-side
    train_bpe — same tie order (freq, lhs, rhs all desc), same EOW
    handling."""
    from dbt_meshify_spark.operators.bpe import train_bpe, train_bpe_distributed

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps under the warm sun",
        "quick foxes jump while lazy dogs nap",
        "the dog and the fox and the sun",
    ] * 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    driver = train_bpe(df, n_merges=6, sample_max=10_000)
    dist = [
        (r.lhs, r.rhs)
        for r in train_bpe_distributed(df, n_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    assert dist == driver

    # determinism: identical frame on a re-run
    again = [
        (r.lhs, r.rhs)
        for r in train_bpe_distributed(df, n_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    assert again == dist


def test_bpe_train_distributed_run_semantics_and_freqs(spark):
    """The documented single-pass replace semantics on identical-symbol
    runs, plus exact merged-pair frequencies: 'aa aa' contributes 2+2
    (a,a) pairs... and after the (a,a) merge a 4-run collapses ONCE per
    pass (the boundary-space consumption), not twice."""
    from dbt_meshify_spark.operators.bpe import train_bpe_distributed

    # one doc: words 'aaaa' x3, 'ab' x2 -> round-1 pairs:
    #   (a,a): 3 per 'aaaa' * 3 = 9;  (a,b): 2; (b,</w>): 2; (a,</w>): 3
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa ab ab")], "doc_id long, text string"
    )
    out = {
        r.merge_rank: r
        for r in train_bpe_distributed(df, n_merges=2).collect()
    }
    assert (out[1].lhs, out[1].rhs, out[1].freq) == ("a", "a", 9)
    # after round 1 'a a a a </w>' -> 'aa a a </w>' (single pass: the
    # second back-to-back match is hidden by the consumed space), so the
    # remaining (a,a) pair count is 3, tied with (a,</w>)=3 and
    # (aa,a)=3 -> tie order (freq, lhs, rhs) DESC picks lhs 'aa'
    assert (out[2].lhs, out[2].rhs, out[2].freq) == ("aa", "a", 3)


def test_kcore_peels_periphery_keeps_core(spark):
    """Planted core vs periphery: a 5-clique (every node degree 4) with a
    pendant 3-chain hanging off one corner. k=2 must peel the chain link
    by link (a true cascade: only the current tail is below degree 2 each
    round) and keep exactly the clique;
    self-loops/NULLs/duplicate+reversed edges drop."""
    from itertools import combinations

    from dbt_meshify_spark.operators.graph_rank import kcore

    clique = list(combinations([1, 2, 3, 4, 5], 2))
    chain = [(5, 10), (10, 11), (11, 12)]
    noise = [(2, 2), (None, 3), (2, 1), (10, 5)]  # self-loop, NULL, dupes
    df = spark.createDataFrame(clique + chain + noise, "src int, dst int")
    stats: dict = {}
    out = {r.id: r.deg for r in kcore(df, k=2, iters=10, stats=stats).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert all(d == 4 for d in out.values())
    # one cascade round per chain link + the stability round
    assert stats["rounds"] == 4
    # k=3 drops the whole chain at once (every link node already < 3)
    s3: dict = {}
    out3 = {r.id for r in kcore(df, k=3, iters=10, stats=s3).collect()}
    assert out3 == {1, 2, 3, 4, 5} and s3["rounds"] == 2
    # k larger than any degree empties the graph
    assert kcore(df, k=6, iters=10).count() == 0
    # k=1 keeps everything reachable by an edge (incl. the chain), with
    # degrees of the ORIGINAL canonical graph
    all_nodes = {r.id for r in kcore(df, k=1, iters=5).collect()}
    assert all_nodes == {1, 2, 3, 4, 5, 10, 11, 12}


def test_label_propagation_early_stops_at_convergence(spark):
    """The signature early-stop must cut the round count on a settled
    graph WITHOUT changing the fixed-iters result: a converged label frame
    is a fixpoint of the synchronous update, so stopping early is exact."""
    from itertools import combinations

    from dbt_meshify_spark.operators.graph_rank import label_propagation

    c1 = list(combinations([1, 2, 3, 4], 2))
    c2 = list(combinations([11, 12, 13, 14], 2))
    df = spark.createDataFrame(c1 + c2 + [(4, 11)], "src int, dst int")
    stats: dict = {}
    out_long = {
        r.id: r.community
        for r in label_propagation(df, iters=25, stats=stats).collect()
    }
    # two 4-cliques settle in a couple of rounds, not 25
    assert 0 < stats["rounds"] < 25
    out_fixed = {
        r.id: r.community for r in label_propagation(df, iters=4).collect()
    }
    assert out_long == out_fixed
    assert stats["converged"] is True
    # an edgeless graph converges on the very first round
    lone = spark.createDataFrame([(1, 1), (2, 2)], "src int, dst int")
    s2: dict = {}
    label_propagation(lone, iters=10, stats=s2).collect()
    assert s2["rounds"] == 1
    # a budget too small for the propagation depth must SAY so: a 7-chain
    # with iters=1 is mid-propagation, not settled
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "src int, dst int"
    )
    s3: dict = {}
    label_propagation(chain, iters=1, stats=s3).collect()
    assert s3["converged"] is False and s3["rounds"] == 1


def test_attribution_models_credit_correctly(spark):
    from datetime import datetime as dt

    from dbt_meshify_spark.operators.temporal import attribution_credit

    def t(m):
        return dt(2024, 1, 1, 0, m, 0)

    rows = [
        # user 1: view, click, signup, then purchase (3-touch path)
        (1, t(0), 1, "view"), (2, t(1), 1, "click"), (3, t(2), 1, "signup"),
        (4, t(3), 1, "purchase"),
        (5, t(4), 1, "click"),        # AFTER conversion: never credited
        # user 2: single touch
        (6, t(0), 2, "view"), (7, t(1), 2, "purchase"),
        # user 3: no conversion -> no rows
        (8, t(0), 3, "click"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    lin = {(r.user_id, r.touch_event_id): r for r in
           attribution_credit(df, model="linear").collect()}
    assert set(lin) == {(1, 1), (1, 2), (1, 3), (2, 6)}
    assert lin[(1, 1)].credit == round(1 / 3, 4) and lin[(2, 6)].credit == 1.0
    u = {r.touch_event_id: r.credit for r in
         attribution_credit(df, model="u_shaped").collect() if r.user_id == 1}
    assert u == {1: 0.4, 2: 0.2, 3: 0.4}
    first = {r.touch_event_id: r.credit for r in
             attribution_credit(df, model="first_touch").collect() if r.user_id == 1}
    assert first == {1: 1.0, 2: 0.0, 3: 0.0}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        attribution_credit(df, model="nope")


def test_embedding_neardup_exact_enforces_slice_cap(spark):
    """The slice-only contract is CODE, not prose (VERDICT r6 #1): an
    input over max_rows must raise before the driver-side matrix collect,
    naming the no-collect scale twin; at-or-under the cap still scores."""
    import pytest as _pytest

    from dbt_meshify_spark.operators.similarity import embedding_neardup_exact

    rows = [(i, [float(i), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="embedding_neardup_gemm"):
        embedding_neardup_exact(df, threshold=0.9, max_rows=5).collect()
    out = embedding_neardup_exact(df, threshold=0.99, max_rows=6)
    assert out.count() > 0  # colinear-ish tail pairs survive


def test_kcore_reports_convergence(spark):
    """stats['converged'] distinguishes a fixpoint peel from a truncated
    one (ADVICE r6): a pendant path with a too-small iters budget returns
    a SUPERSET of the k-core and must say so; the same graph with budget
    to spare converges (here: to the empty 2-core)."""
    from dbt_meshify_spark.operators.graph_rank import kcore

    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(path, "src int, dst int")
    trunc: dict = {}
    out = {r.id for r in kcore(df, k=2, iters=1, stats=trunc).collect()}
    assert out == {2, 3, 4}  # endpoints peeled, middle not yet — superset
    assert trunc["converged"] is False and trunc["rounds"] == 1
    full: dict = {}
    assert kcore(df, k=2, iters=10, stats=full).count() == 0
    assert full["converged"] is True


def test_fingerprint_missing_source_never_matches(tmp_path):
    """A source path that does not exist can stamp the 'missing' sentinel;
    it must never MATCH it later (ADVICE r6: a mistyped/moved source would
    otherwise permanently serve a stale layout)."""
    from dbt_meshify_spark.sources.bucketing import (
        fingerprint_matches,
        write_fingerprint,
    )

    layout = str(tmp_path / "layout")
    import os

    os.makedirs(layout)
    gone = str(tmp_path / "never_there.parquet")
    write_fingerprint(layout, gone)  # stamps the 'missing' sentinel
    assert fingerprint_matches(layout, gone) is False  # stale, rebuild
    # a real file still round-trips
    real = tmp_path / "real.txt"
    real.write_text("x")
    write_fingerprint(layout, str(real))
    assert fingerprint_matches(layout, str(real)) is True


def test_ensure_ivf_index_cache_key_includes_columns(spark, tmp_path):
    """Two configs reading DIFFERENT columns off the same cache_key must
    not collide on one cache directory (ADVICE r6)."""
    import os

    from dbt_meshify_spark.operators.similarity import ensure_ivf_index

    rows = [(i, [float(i % 4), 1.0], [float(i % 2), 2.0]) for i in range(32)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, alt array<double>"
    )
    base = str(tmp_path / "ivf")
    ensure_ivf_index(spark, df, "k", nlist=2, iters=2, base_dir=base)
    ensure_ivf_index(
        spark, df, "k", nlist=2, iters=2, vec_col="alt", base_dir=base
    )
    dirs = sorted(os.listdir(base))
    assert len(dirs) == 2, f"column configs collided: {dirs}"


def test_substring_run_pairs_recovers_planted_spans(spark):
    """Planted 20-token shared passage at different offsets in two docs:
    the run merge must recover the exact aligned extents (1-based starts,
    exclusive ends) and anchor count; an unrelated doc contributes
    nothing; two shared passages at DIFFERENT relative offsets come back
    as two separate diagonal runs."""
    from dbt_meshify_spark.operators.dedup import (
        substring_run_pairs,
        substring_runs_to_spans,
    )

    shared = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliett kilo lima mike november oscar papa quebec romeo "
              "sierra tango")            # 20 tokens
    shared2 = ("uno dos tres cuatro cinco seis siete ocho nueve diez "
               "once doce")              # 12 tokens
    rows = [
        (1, f"p1 p2 p3 p4 p5 {shared} s1 s2"),
        (2, f"q1 q2 {shared} t1"),
        (3, "zulu yankee xray whiskey victor uniform " * 6),
        (5, f"{shared2} u1 {shared2}x"),       # second copy altered -> 1 run
        (6, f"{shared2} v1 v2 {shared2}x"),    # different gap -> diag shifts
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    runs = {
        (r.id_a, r.id_b): r
        for r in substring_run_pairs(df, k=8).filter(
            F.col("id_a").isin(1) | F.col("id_b").isin(2)
        ).collect()
    }
    r12 = runs[(1, 2)]
    assert (r12.a_start, r12.a_end) == (6, 26)
    assert (r12.b_start, r12.b_end) == (3, 23)
    assert r12.n_tokens == 20 and r12.n_anchors == 13
    # docs 5/6 each carry shared2 twice (second copies tail-altered): every
    # copy-to-copy alignment is its own diagonal -> FOUR runs, never one
    # merged blob; same-position alignments match all 12 tokens, cross
    # alignments stop at the altered tail (11)
    four = substring_run_pairs(df, k=8).filter(
        (F.col("id_a") == 5) & (F.col("id_b") == 6)
    ).collect()
    assert len(four) == 4
    assert sorted(r.n_tokens for r in four) == [11, 11, 12, 12]
    # keep-one-copy surgery: doc 2 (higher id of the (1,2) pair) gets the
    # cut span, doc 1 keeps its copy
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in substring_runs_to_spans(
            substring_run_pairs(df, k=8).filter(
                (F.col("id_a") == 1) & (F.col("id_b") == 2)
            )
        ).collect()
    }
    assert spans == {2: (3, 23)}


def test_substring_run_pairs_caps_are_enforced(spark):
    """Stop-gram df cap drops boilerplate grams entirely (a gram in more
    docs than max_gram_df produces NO runs); the per-(doc, gram)
    occurrence cap bounds anchors on pathological repeated-token docs."""
    from dbt_meshify_spark.operators.dedup import substring_run_pairs

    boiler = "one two three four five six seven eight"
    many = [(i, f"pre{i} {boiler} post{i}") for i in range(1, 5)]
    df = spark.createDataFrame(many, "doc_id long, text string")
    assert substring_run_pairs(df, k=8, max_gram_df=3).count() == 0
    assert substring_run_pairs(df, k=8, max_gram_df=10).count() == 6  # C(4,2)
    # single-anchor runs (exactly one shared 8-gram) drop under min_anchors=2
    assert substring_run_pairs(df, k=8, max_gram_df=10, min_anchors=2).count() == 0
    # pathological doc: one token repeated; every anchor is the same gram
    patho = spark.createDataFrame(
        [(1, "w " * 40), (2, "w " * 40)], "doc_id long, text string"
    )
    out = substring_run_pairs(patho, k=8, max_occ_per_doc=8).collect()
    assert out and all(r.n_anchors <= 8 * 8 for r in out)


def test_substring_runs_to_spans_merges_overlaps(spark):
    """Overlapping and abutting cut spans per doc must merge; disjoint
    spans must not."""
    from dbt_meshify_spark.operators.dedup import substring_runs_to_spans

    runs = spark.createDataFrame(
        [
            (1, 2, 1, 9, 5, 13),    # doc 2: [5,13)
            (1, 2, 20, 28, 10, 18), # doc 2: [10,18) overlaps -> [5,18)
            (1, 2, 40, 48, 18, 26), # doc 2: [18,26) abuts    -> [5,26)
            (1, 2, 60, 68, 40, 48), # doc 2: [40,48) disjoint
            (3, 4, 1, 9, 2, 10),    # doc 4: [2,10)
        ],
        "id_a long, id_b long, a_start long, a_end long, b_start long, b_end long",
    )
    out = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in substring_runs_to_spans(runs).collect()
    )
    assert out == [(2, 5, 26), (2, 40, 48), (4, 2, 10)]


def test_apply_bpe_delimited_matches_trainer_and_python_replay(spark):
    """The delimited encoder must (a) reproduce a hand-replayed Python
    application of the same boundary-delimited replaces, including the
    documented >=3-identical-symbol under-merge, and (b) agree with the
    greedy apply_bpe on clean no-run words (where both semantics
    coincide)."""
    from dbt_meshify_spark.operators.bpe import (
        EOW,
        apply_bpe,
        apply_bpe_delimited,
        train_bpe_distributed,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps under the warm sun",
        "aaaa banana the fox",          # 'aaaa' exercises the run semantics
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (r.lhs, r.rhs)
        for r in train_bpe_distributed(df, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]

    def replay(word: str) -> list[str]:
        seq = " " + " ".join(word) + f" {EOW} "
        for lhs, rhs in merges:
            seq = seq.replace(f" {lhs} {rhs} ", f" {lhs}{rhs} ")
        return seq.split()

    got = {
        r.doc_id: r.bpe_tokens
        for r in apply_bpe_delimited(df, merges).collect()
    }
    for i, t in enumerate(texts):
        expect = [tok for w in t.lower().split() for tok in replay(w)]
        assert got[i] == expect, f"doc {i}: {got[i]} != {expect}"

    # greedy-vs-delimited agreement on run-free words
    clean = df.filter(F.col("doc_id") < 2)
    greedy = {r.doc_id: r.bpe_tokens for r in apply_bpe(clean, merges).collect()}
    delim = {
        r.doc_id: r.bpe_tokens for r in apply_bpe_delimited(clean, merges).collect()
    }
    if all(len(set(w)) == len(w) or "aa" not in w for t in texts[:2] for w in t.split()):
        assert greedy == delim


def test_core_numbers_nested_decomposition(spark):
    """Planted degeneracy ladder: a 4-clique (core 3) joined to a 4-cycle
    (core 2) with a pendant 2-chain (core 1). core_numbers must assign
    the max-k membership per node, and the iterated peel must stop early
    both per level (fixpoint) and globally (empty graph)."""
    from itertools import combinations

    from dbt_meshify_spark.operators.graph_rank import core_numbers

    clique = list(combinations([1, 2, 3, 4], 2))
    cycle = [(5, 6), (6, 7), (7, 8), (8, 5), (4, 5)]   # bridged at 4-5
    chain = [(8, 9), (9, 10)]
    noise = [(3, 3), (None, 7), (2, 1)]                # self-loop/NULL/dupe
    df = spark.createDataFrame(
        clique + cycle + chain + noise, "src int, dst int"
    )
    stats: dict = {}
    out = {
        r.id: r.core
        for r in core_numbers(df, k_max=4, iters_per_k=10, stats=stats).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 2, 6: 2, 7: 2, 8: 2, 9: 1, 10: 1}
    assert stats["levels"] == 3 and stats["converged"] is True
    # k_max smaller than the degeneracy truncates the ladder, determinately
    capped = {
        r.id: r.core for r in core_numbers(df, k_max=2, iters_per_k=10).collect()
    }
    assert capped == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 2, 8: 2, 9: 1, 10: 1}
    # an iters_per_k budget too small for the pendant cascade must SAY so:
    # cores become an upper bound and stats['converged'] flips False
    trunc: dict = {}
    up = {
        r.id: r.core
        for r in core_numbers(df, k_max=2, iters_per_k=1, stats=trunc).collect()
    }
    assert trunc["converged"] is False
    assert up[9] == 2  # 9 survived the single k=2 round (true core is 1)
    # degenerate budgets raise instead of silently assigning core=k_max
    for bad in ({"iters_per_k": 0}, {"iters_per_k": -1}, {"k_max": 0}):
        with pytest.raises(ValueError):
            core_numbers(df, **bad)


def test_luhn_card_hits_validates_checksums(spark):
    """Known-valid card test numbers pass — contiguous AND space-/dash-/
    mixed-grouped (the dominant real-world formats) — off-by-one
    corruptions fail, short/long digit runs never become candidates,
    digit-free docs come back with zero counts."""
    from dbt_meshify_spark.operators.text import luhn_card_hits

    def luhn_ok(s: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(s), 1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    valid = "4539148803436467"          # Luhn-valid Visa test number
    assert luhn_ok(valid)
    corrupt = valid[:-1] + str((int(valid[-1]) + 1) % 10)
    assert not luhn_ok(corrupt)
    spaced = "4539 1488 0343 6467"
    dashed = "4539-1488-0343-6467"
    mixed = "4539-1488 0343-6467"
    rows = [
        (1, f"order 123456789012 card {valid} ok"),      # 12-digit run: not a candidate
        (2, f"pay {corrupt} and {valid}"),
        (3, "no digits here at all"),
        (4, "a 99999999999999999999 run too long"),      # 20 digits contiguous: no candidate
        (5, f"pay {spaced} thanks"),                     # space-grouped valid card
        (6, f"pay {dashed} thanks"),                     # dash-grouped valid card
        (7, f"pay {mixed} thanks"),                      # mixed separators, still valid
        (8, "order 4539-1488-0343-6468 shipped"),        # grouped but Luhn-INVALID order id
        (9, "ref 1234 5678 9012 3456 7890 over"),        # 20 digits grouped: the run
                                                         # itself is over length; its two
                                                         # 4-group windows are candidates
        (10, f"ID{valid} letter-glued"),                 # no \b, caught by the \d+ tier
        (11, "cells 0 0 0 0 0 0 0 0 0 0 0 0 0 end"),     # singleton-group bridge: rejected
        (12, f"pay {valid} and {valid} again"),          # same string twice: ONE distinct
                                                         # candidate per doc
        (13, f"ref 9{valid} embedded"),                  # 17-digit run CONTAINING a valid
                                                         # card: one candidate, not valid
        (14, "qty 7 4539 1488 0343 6467 shipped"),       # lone digit beside a grouped
                                                         # card: >=2-digit groups keep the
                                                         # card intact
        (15, f"card {spaced} 90210 end"),                # valid card + zip in ONE 21-digit
                                                         # run: the group-window tier
                                                         # recovers the card
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_candidates, r.n_valid) for r in luhn_card_hits(df).collect()}
    assert out == {
        1: (1, 1), 2: (2, 1), 3: (0, 0), 4: (0, 0),
        5: (1, 1), 6: (1, 1), 7: (1, 1),
        8: (1, 0),  # candidate, but checksum says not a card
        9: (2, 0),  # the two 16-digit 4-group windows, both Luhn-invalid
        10: (1, 1), 11: (0, 0), 12: (1, 1),
        13: (1, 0),  # prepended 9 rides an odd position: sum shifts by 9
        14: (1, 1),  # lone digit next to the card is NOT absorbed
        15: (3, 1),  # 13/16/17-digit windows; only the card passes Luhn
    }
    assert not luhn_ok("9" + valid)


def test_redact_pii_luhn_gated_card_masking(spark):
    """redact_pii masks Luhn-valid cards in every separator form but
    leaves checksum-invalid 16-digit order ids (grouped or not) intact;
    luhn_cards=False restores the pattern-only chain."""
    from dbt_meshify_spark.operators.text import redact_pii

    rows = [
        ("pay 4539148803436467 now", "pay [CARD] now"),
        ("pay 4539 1488 0343 6467 now", "pay [CARD] now"),
        ("pay 4539-1488-0343-6467 now", "pay [CARD] now"),
        ("pay 4539-1488 0343-6467 now", "pay [CARD] now"),
        # Luhn-invalid 16-digit order ids with separators: NOT masked
        ("order 4539-1488-0343-6468 shipped", "order 4539-1488-0343-6468 shipped"),
        ("order 1234 5678 9012 3456 shipped", "order 1234 5678 9012 3456 shipped"),
        # card + email in one note: both masked, independently
        (
            "card 4111 1111 1111 1111 mail a@b.io",
            "card [CARD] mail [EMAIL]",
        ),
        # letter-glued valid card: the \d+ tier catches it, digit-boundary
        # anchoring still masks it (letters are not digits)
        ("ID4539148803436467 glued", "ID[CARD] glued"),
        # a 17-digit run CONTAINING a valid card must NOT be rewritten
        # inside (the literal-replace corruption bug)
        (
            "card 4539148803436467 ref 94539148803436467",
            "card [CARD] ref 94539148803436467",
        ),
        # singleton-digit groups never bridge into a candidate, even though
        # thirteen zeros pass Luhn
        (
            "cells 0 0 0 0 0 0 0 0 0 0 0 0 0 end",
            "cells 0 0 0 0 0 0 0 0 0 0 0 0 0 end",
        ),
        # back-to-back occurrences separated by one space: both masked
        # (the double-pass boundary replace)
        (
            "pay 4539148803436467 4539148803436467 ok",
            "pay [CARD] [CARD] ok",
        ),
        # a lone digit beside the grouped card never poisons it (>=2-digit
        # groups are required in the candidate pattern)
        (
            "qty 7 4539 1488 0343 6467 shipped",
            "qty 7 [CARD] shipped",
        ),
        # valid card sharing one run with a zip: the group-window tier
        # recovers and masks exactly the card's groups
        (
            "card 4539 1488 0343 6467 90210 end",
            "card [CARD] 90210 end",
        ),
        # and the dashed form of the same adjacency (canonical-spaced
        # window candidates mask via the [ -]-generalized pattern)
        (
            "card 4539-1488-0343-6467-90210 end",
            "card [CARD]-90210 end",
        ),
    ]
    df = spark.createDataFrame(rows, "txt string, want string")
    for r in redact_pii(df, ["txt"]).collect():
        assert r.txt_redacted == r.want, (r.txt, r.txt_redacted, r.want)
    # opt-out restores the pattern-only behavior (no [CARD] ever)
    off = redact_pii(df, ["txt"], luhn_cards=False).collect()
    assert not any("[CARD]" in r.txt_redacted for r in off)
    # tokens containing Java replacement metachars ($, \) are escaped, not
    # group references / runtime errors
    from dbt_meshify_spark.operators.text import mask_luhn_cards

    tok_df = spark.createDataFrame([("pay 4539148803436467 now",)], ["txt"])
    m = tok_df.select(
        mask_luhn_cards(F.col("txt"), token="US$0\\x").alias("m")
    ).collect()[0].m
    assert m == "pay US$0\\x now"


def test_trigram_perplexity_interpolation_and_ranking(spark):
    """The interpolated trigram LM must rank formulaic docs below a
    scramble of the same words, exclude docs with <3 tokens, score
    identical docs identically, and agree with a driver-side Python
    replay of the interpolation formula (exact floats)."""
    import math
    from collections import Counter

    from dbt_meshify_spark.operators.lm import trigram_perplexity

    typical = "the cat sat on the mat"
    atypical = "mat the on sat cat the"
    rows = [(i, typical) for i in range(10)] + [(99, atypical), (100, "one two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in trigram_perplexity(df).collect()}
    assert 100 not in out  # <3 tokens => no trigrams => excluded
    assert out[0].n_trigrams == 4
    assert out[0].ppl < out[99].ppl
    assert out[0].ppl == out[5].ppl

    # Python replay on the same corpus
    docs = {i: typical.split() for i in range(10)}
    docs[99] = atypical.split()
    tri, big, uni, ctx12, ctx2 = Counter(), Counter(), Counter(), Counter(), Counter()
    for toks in docs.values():
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            tri[(a, b, c)] += 1
            ctx12[(a, b)] += 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
        for a in toks[:-1]:
            ctx2[a] += 1
        uni.update(toks)
    n = sum(uni.values())
    v = len(uni)
    def ppl(toks):
        s = m = 0
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            p = (0.6 * (tri[(a, b, c)] / ctx12[(a, b)])
                 + 0.3 * (big[(b, c)] / ctx2[b])
                 + 0.1 * ((uni[c] + 1.0) / (n + v)))
            s += -math.log(p); m += 1
        return round(math.exp(s / m), 4)
    assert out[0].ppl == ppl(docs[0])
    assert out[99].ppl == ppl(docs[99])


def test_kn_trigram_perplexity_continuation_counts_and_ranking(spark):
    """The interpolated Kneser-Ney LM must rank formulaic docs below a
    scramble of the same words, exclude <3-token docs, score identical
    docs identically, reject out-of-range discounts, and agree with a
    driver-side Python replay of the full continuation-count recursion
    (exact floats, D = 0.75)."""
    import math
    from collections import Counter

    import pytest as _pytest

    from dbt_meshify_spark.operators.lm import kn_trigram_perplexity

    typical = "the cat sat on the mat"
    atypical = "mat the on sat cat the"
    rows = [(i, typical) for i in range(10)] + [(99, atypical), (100, "one two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in kn_trigram_perplexity(df).collect()}
    assert 100 not in out  # <3 tokens => no trigrams => excluded
    assert out[0].n_trigrams == 4
    assert out[0].ppl < out[99].ppl
    assert out[0].ppl == out[5].ppl
    with _pytest.raises(ValueError):
        kn_trigram_perplexity(df, discount=1.5)

    # Python replay: trigram/bigram TYPE tables -> N1+ continuation counts
    docs = {i: typical.split() for i in range(10)}
    docs[99] = atypical.split()
    tri_c = Counter()
    btypes = set()
    for toks in docs.values():
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            tri_c[(a, b, c)] += 1
        for a, b in zip(toks, toks[1:]):
            btypes.add((a, b))
    tri_types = set(tri_c)
    c_w12 = Counter()       # C(w1w2.)
    n1p_w12 = Counter()     # N1+(w1w2.)
    n_dot_w23 = Counter()   # N1+(.w2w3)
    n_dot_w2 = Counter()    # N1+(.w2.)
    w2_conts = {}           # w2 -> distinct (w2, w3) types
    for (a, b, c), n in tri_c.items():
        c_w12[(a, b)] += n
        n1p_w12[(a, b)] += 1
        n_dot_w23[(b, c)] += 1
        n_dot_w2[b] += 1
        w2_conts.setdefault(b, set()).add((b, c))
    n_dot_w3 = Counter(b for _a, b in btypes)  # N1+(.w3)
    nbt = float(len(btypes))                   # N1+(..)
    D = 0.75

    def ppl(toks):
        s = m = 0
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            p_cont = n_dot_w3[c] / nbt
            p2 = (max(n_dot_w23[(b, c)] - D, 0.0) / n_dot_w2[b]
                  + (D * len(w2_conts[b]) / n_dot_w2[b]) * p_cont)
            p3 = (max(tri_c[(a, b, c)] - D, 0.0) / c_w12[(a, b)]
                  + (D * n1p_w12[(a, b)] / c_w12[(a, b)]) * p2)
            s += -math.log(p3)
            m += 1
        return round(math.exp(s / m), 4)

    assert out[0].ppl == ppl(docs[0])
    assert out[99].ppl == ppl(docs[99])


def test_kn_fourgram_perplexity_order4_recursion(spark):
    """The 4-gram KN LM must exclude <4-token docs, rank formulaic docs
    below a scramble, and agree with a driver-side Python replay of the
    full three-level continuation recursion (exact floats, D = 0.75)."""
    import math
    from collections import Counter

    from dbt_meshify_spark.operators.lm import kn_fourgram_perplexity

    typical = "the cat sat on the mat today"
    atypical = "mat the today on sat cat the"
    rows = [(i, typical) for i in range(10)] + [(99, atypical), (100, "one two three")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in kn_fourgram_perplexity(df).collect()}
    assert 100 not in out  # <4 tokens => no 4-grams => excluded
    assert out[0].n_fourgrams == 4
    assert out[0].ppl < out[99].ppl
    assert out[0].ppl == out[5].ppl

    docs = {i: typical.split() for i in range(10)}
    docs[99] = atypical.split()
    g4_c = Counter()
    ttypes = set()
    btypes = set()
    for toks in docs.values():
        for tup in zip(toks, toks[1:], toks[2:], toks[3:]):
            g4_c[tup] += 1
        for tup in zip(toks, toks[1:], toks[2:]):
            ttypes.add(tup)
        for tup in zip(toks, toks[1:]):
            btypes.add(tup)
    c_w123 = Counter()
    n1p_w123 = Counter()
    n_dot_w234 = Counter()
    n_dot_w23 = Counter()
    w23_conts = {}
    for (a, b, c, e), n in g4_c.items():
        c_w123[(a, b, c)] += n
        n1p_w123[(a, b, c)] += 1
        n_dot_w234[(b, c, e)] += 1
        n_dot_w23[(b, c)] += 1
        w23_conts.setdefault((b, c), set()).add((b, c, e))
    n_dot_w34 = Counter()
    n_dot_w3 = Counter()
    w3_conts = {}
    for (a, b, c) in ttypes:
        n_dot_w34[(b, c)] += 1
        n_dot_w3[b] += 1
        w3_conts.setdefault(b, set()).add((b, c))
    n_dot_w4 = Counter(b for _a, b in btypes)
    nbt = float(len(btypes))
    D = 0.75

    def ppl(toks):
        s = m = 0
        for a, b, c, e in zip(toks, toks[1:], toks[2:], toks[3:]):
            p_cont = n_dot_w4[e] / nbt
            p2 = (max(n_dot_w34[(c, e)] - D, 0.0) / n_dot_w3[c]
                  + (D * len(w3_conts[c]) / n_dot_w3[c]) * p_cont)
            p3 = (max(n_dot_w234[(b, c, e)] - D, 0.0) / n_dot_w23[(b, c)]
                  + (D * len(w23_conts[(b, c)]) / n_dot_w23[(b, c)]) * p2)
            p4 = (max(g4_c[(a, b, c, e)] - D, 0.0) / c_w123[(a, b, c)]
                  + (D * n1p_w123[(a, b, c)] / c_w123[(a, b, c)]) * p3)
            s += -math.log(p4)
            m += 1
        return round(math.exp(s / m), 4)

    assert out[0].ppl == ppl(docs[0])
    assert out[99].ppl == ppl(docs[99])


def test_mkn_trigram_perplexity_three_discount_scheme(spark):
    """Modified KN must reproduce a driver-side Python replay of the full
    Chen-Goodman scheme — count-of-count discounts (Y, D1/D2/D3+ with the
    clamp/guard CASEs), per-context released-mass gammas, continuation
    middle level — exactly (same float op order); plus the standard
    ranking/exclusion/identical-doc invariants."""
    import math
    from collections import Counter

    from dbt_meshify_spark.operators.lm import mkn_trigram_perplexity

    typical = "the cat sat on the mat"
    atypical = "mat the on sat cat the"
    extra = "the cat sat on a rug"  # overlapping counts -> varied c buckets
    rows = (
        [(i, typical) for i in range(10)]
        + [(50 + i, extra) for i in range(3)]
        + [(99, atypical), (100, "one two")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in mkn_trigram_perplexity(df).collect()}
    assert 100 not in out
    assert out[0].ppl < out[99].ppl
    assert out[0].ppl == out[5].ppl

    docs = {i: typical.split() for i in range(10)}
    for i in range(3):
        docs[50 + i] = extra.split()
    docs[99] = atypical.split()
    tri_c = Counter()
    btypes = set()
    for toks in docs.values():
        for tup in zip(toks, toks[1:], toks[2:]):
            tri_c[tup] += 1
        for tup in zip(toks, toks[1:]):
            btypes.add(tup)

    def discounts(counts):
        n1 = sum(1 for c in counts if c == 1)
        n2 = sum(1 for c in counts if c == 2)
        n3 = sum(1 for c in counts if c == 3)
        n4 = sum(1 for c in counts if c == 4)
        y = n1 / (n1 + 2.0 * n2) if n1 + 2 * n2 > 0 else 0.5
        d1 = max(1.0 - 2.0 * y * n2 / n1 if n1 > 0 else 1.0, 0.0)
        d2 = max(2.0 - 3.0 * y * n3 / n2 if n2 > 0 else 2.0, 0.0)
        d3 = max(3.0 - 4.0 * y * n4 / n3 if n3 > 0 else 3.0, 0.0)
        return d1, d2, d3

    dt = discounts(list(tri_c.values()))
    c_w12 = Counter()
    bucket = {}
    cc = Counter()  # N1+(.w2w3)
    for (a, b, c), n in tri_c.items():
        c_w12[(a, b)] += n
        k = 0 if n == 1 else (1 if n == 2 else 2)
        bucket.setdefault((a, b), [0, 0, 0])[k] += 1
        cc[(b, c)] += 1
    dm = discounts(list(cc.values()))
    n_dot_w2 = Counter()
    mbucket = {}
    for (b, c), n in cc.items():
        n_dot_w2[b] += n
        k = 0 if n == 1 else (1 if n == 2 else 2)
        mbucket.setdefault(b, [0, 0, 0])[k] += 1
    n_dot_w3 = Counter(b for _a, b in btypes)
    nbt = float(len(btypes))

    def d_of(c, d):
        return d[0] if c == 1 else (d[1] if c == 2 else d[2])

    def ppl(toks):
        s = m = 0
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            p_cont = n_dot_w3[c] / nbt
            g2 = (dm[0] * mbucket[b][0] + dm[1] * mbucket[b][1]
                  + dm[2] * mbucket[b][2]) / n_dot_w2[b]
            p2 = (max(cc[(b, c)] - d_of(cc[(b, c)], dm), 0.0) / n_dot_w2[b]
                  + g2 * p_cont)
            g3 = (dt[0] * bucket[(a, b)][0] + dt[1] * bucket[(a, b)][1]
                  + dt[2] * bucket[(a, b)][2]) / c_w12[(a, b)]
            p3 = (max(tri_c[(a, b, c)] - d_of(tri_c[(a, b, c)], dt), 0.0)
                  / c_w12[(a, b)] + g3 * p2)
            s += -math.log(p3)
            m += 1
        return round(math.exp(s / m), 4)

    assert out[0].ppl == ppl(docs[0])
    assert out[50].ppl == ppl(docs[50])
    assert out[99].ppl == ppl(docs[99])


def test_kn_ngram_perplexity_order_generic(spark):
    """The order-generic KN ladder must (a) reproduce the hardcoded
    order-3/4 tiers BIT-EXACTLY, (b) reject degenerate orders/discounts,
    and (c) agree at order 5 with a driver-side generic Python replay of
    the full continuation recursion (exact floats, D = 0.75)."""
    import math
    from collections import Counter

    import pytest as _pytest

    from dbt_meshify_spark.operators.lm import (
        kn_fourgram_perplexity,
        kn_ngram_perplexity,
        kn_trigram_perplexity,
    )

    typical = "the cat sat on the mat again today"
    atypical = "mat the today again on sat cat the"
    rows = [(i, typical) for i in range(10)] + [(99, atypical), (100, "uno dos tres cuatro")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    g3 = {r.doc_id: (r.n_ngrams, r.avg_nll, r.ppl)
          for r in kn_ngram_perplexity(df, 3).collect()}
    h3 = {r.doc_id: (r.n_trigrams, r.avg_nll, r.ppl)
          for r in kn_trigram_perplexity(df).collect()}
    assert g3 == h3
    g4 = {r.doc_id: (r.n_ngrams, r.avg_nll, r.ppl)
          for r in kn_ngram_perplexity(df, 4).collect()}
    h4 = {r.doc_id: (r.n_fourgrams, r.avg_nll, r.ppl)
          for r in kn_fourgram_perplexity(df).collect()}
    assert g4 == h4

    with _pytest.raises(ValueError):
        kn_ngram_perplexity(df, 1)
    with _pytest.raises(ValueError):
        kn_ngram_perplexity(df, 5, discount=0.0)

    out = {r.doc_id: r for r in kn_ngram_perplexity(df, 5).collect()}
    assert 100 not in out  # 4 tokens < order 5 => excluded
    assert out[0].n_ngrams == 4
    assert out[0].ppl < out[99].ppl

    # generic Python replay at order 5
    n = 5
    docs = {i: typical.split() for i in range(10)}
    docs[99] = atypical.split()
    grams = {k: set() for k in range(2, n + 1)}  # type sets per order
    top_c = Counter()
    for toks in docs.values():
        for k in range(2, n + 1):
            for i in range(len(toks) - k + 1):
                grams[k].add(tuple(toks[i:i + k]))
        for i in range(len(toks) - n + 1):
            top_c[tuple(toks[i:i + n])] += 1
    D = 0.75
    c_pre, n1p_pre = Counter(), Counter()
    for g, c in top_c.items():
        c_pre[g[:-1]] += c
        n1p_pre[g[:-1]] += 1
    # per backoff level k: suffix counts and mid contexts off (k+1)-gram types
    tbl, ctx = {}, {}
    for k in range(2, n):
        nd_s, nd_m, mid_conts = Counter(), Counter(), {}
        for h in grams[k + 1]:
            s, m = h[1:], h[1:k]
            nd_s[s] += 1
            nd_m[m] += 1
            mid_conts.setdefault(m, set()).add(s)
        tbl[k] = nd_s
        ctx[k] = (nd_m, mid_conts)
    nd_w = Counter(b for _a, b in grams[2])
    nbt = float(len(grams[2]))

    def ppl(toks):
        s_ = m_ = 0
        for i in range(len(toks) - n + 1):
            g = tuple(toks[i:i + n])
            p = nd_w[g[-1]] / nbt
            for k in range(2, n):
                sk, mk = g[-k:], g[-k:-1]
                nd_m, mid_conts = ctx[k]
                p = (max(tbl[k][sk] - D, 0.0) / nd_m[mk]
                     + (D * len(mid_conts[mk]) / nd_m[mk]) * p)
            p = (max(top_c[g] - D, 0.0) / c_pre[g[:-1]]
                 + (D * n1p_pre[g[:-1]] / c_pre[g[:-1]]) * p)
            s_ += -math.log(p)
            m_ += 1
        return round(math.exp(s_ / m_), 4)

    assert out[0].ppl == ppl(docs[0])
    assert out[99].ppl == ppl(docs[99])


def test_mkn_ngram_perplexity_order_generic(spark):
    """The order-generic MODIFIED-KN ladder must (a) reject degenerate
    orders, and (b) agree at order 5 with a driver-side generic Python
    replay of the full Chen-Goodman recursion — per-level count-of-count
    discounts, released-mass gamma buckets, continuation ladder — with
    exact floats. (Order-3 correctness is pinned INDEPENDENTLY by
    test_mkn_trigram_perplexity_three_discount_scheme's Python replay,
    which now exercises the generic ladder through the wrapper — a
    generic-vs-wrapper comparison here would compare the ladder to
    itself.)"""
    import math
    from collections import Counter

    import pytest as _pytest

    from dbt_meshify_spark.operators.lm import (
        mkn_ngram_perplexity,
        mkn_trigram_perplexity,
    )

    typical = "the cat sat on the mat again today"
    extra = "the cat sat on the rug again now"  # varied count buckets
    atypical = "mat the today again on sat cat the"
    rows = (
        [(i, typical) for i in range(10)]
        + [(50 + i, extra) for i in range(3)]
        + [(99, atypical), (100, "uno dos tres cuatro")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # the wrapper only renames the count column
    assert mkn_trigram_perplexity(df).columns == [
        "doc_id", "n_trigrams", "avg_nll", "ppl"
    ]

    with _pytest.raises(ValueError):
        mkn_ngram_perplexity(df, 1)

    out = {r.doc_id: r for r in mkn_ngram_perplexity(df, 5).collect()}
    assert 100 not in out  # 4 tokens < order 5 => excluded
    assert out[0].n_ngrams == 4
    assert out[0].ppl < out[99].ppl
    assert out[0].ppl == out[5].ppl

    # generic Python replay at order 5
    n = 5
    docs = {i: typical.split() for i in range(10)}
    for i in range(3):
        docs[50 + i] = extra.split()
    docs[99] = atypical.split()
    grams = {k: set() for k in range(2, n + 1)}
    top_c = Counter()
    for toks in docs.values():
        for k in range(2, n + 1):
            for i in range(len(toks) - k + 1):
                grams[k].add(tuple(toks[i:i + k]))
        for i in range(len(toks) - n + 1):
            top_c[tuple(toks[i:i + n])] += 1

    def discounts(counts):
        n1 = sum(1 for c in counts if c == 1)
        n2 = sum(1 for c in counts if c == 2)
        n3 = sum(1 for c in counts if c == 3)
        n4 = sum(1 for c in counts if c == 4)
        y = n1 / (n1 + 2.0 * n2) if n1 + 2 * n2 > 0 else 0.5
        d1 = max(1.0 - 2.0 * y * n2 / n1 if n1 > 0 else 1.0, 0.0)
        d2 = max(2.0 - 3.0 * y * n3 / n2 if n2 > 0 else 2.0, 0.0)
        d3 = max(3.0 - 4.0 * y * n4 / n3 if n3 > 0 else 3.0, 0.0)
        return d1, d2, d3

    def d_of(c, d):
        return d[0] if c == 1 else (d[1] if c == 2 else d[2])

    dt = discounts(list(top_c.values()))
    c_pre, tbuck = Counter(), {}
    for g, c in top_c.items():
        c_pre[g[:-1]] += c
        k = 0 if c == 1 else (1 if c == 2 else 2)
        tbuck.setdefault(g[:-1], [0, 0, 0])[k] += 1
    # backoff level k: continuation counts off the (k+1)-gram TYPES, each
    # level with its own discounts and per-mid released-mass buckets
    cc, dk, nd_m, mbuck = {}, {}, {}, {}
    for k in range(2, n):
        cck = Counter()
        for h in grams[k + 1]:
            cck[h[1:]] += 1
        cc[k] = cck
        dk[k] = discounts(list(cck.values()))
        ndm, mb = Counter(), {}
        for s, c in cck.items():
            m = s[:-1]
            ndm[m] += c
            j = 0 if c == 1 else (1 if c == 2 else 2)
            mb.setdefault(m, [0, 0, 0])[j] += 1
        nd_m[k], mbuck[k] = ndm, mb
    nd_w = Counter(b for _a, b in grams[2])
    nbt = float(len(grams[2]))

    def ppl(toks):
        s_ = m_ = 0
        for i in range(len(toks) - n + 1):
            g = tuple(toks[i:i + n])
            p = nd_w[g[-1]] / nbt
            for k in range(2, n):
                sk, mk = g[-k:], g[-k:-1]
                c = cc[k][sk]
                gam = (dk[k][0] * mbuck[k][mk][0]
                       + dk[k][1] * mbuck[k][mk][1]
                       + dk[k][2] * mbuck[k][mk][2]) / nd_m[k][mk]
                p = max(c - d_of(c, dk[k]), 0.0) / nd_m[k][mk] + gam * p
            c = top_c[g]
            gam = (dt[0] * tbuck[g[:-1]][0] + dt[1] * tbuck[g[:-1]][1]
                   + dt[2] * tbuck[g[:-1]][2]) / c_pre[g[:-1]]
            p = max(c - d_of(c, dt), 0.0) / c_pre[g[:-1]] + gam * p
            s_ += -math.log(p)
            m_ += 1
        return round(math.exp(s_ / m_), 4)

    assert out[0].ppl == ppl(docs[0])
    assert out[50].ppl == ppl(docs[50])
    assert out[99].ppl == ppl(docs[99])


def test_epoch_budget_plan_water_fills_with_caps(spark):
    """Hand-computed 3-round fill: budget 1000, max_epochs 4, groups of
    100/10/1000 tokens. Equal shares cap the small groups at 4 epochs and
    the overflow water-fills into the big one; all arithmetic integral."""
    from dbt_meshify_spark.operators.sampling import epoch_budget_plan

    rows = (
        [("A", 50), ("A", 50)]
        + [("B", 10)]
        + [("C", 400), ("C", 600)]
    )
    df = spark.createDataFrame(rows, "src string, n_chars long")
    out = {
        r.src: r
        for r in epoch_budget_plan(
            df, ["src"], token_budget=1000, max_epochs=4
        ).collect()
    }
    # r1: share 333 -> A 333, B capped 40, C 333 (used 706)
    # r2: pool {A, C}, share 147 -> A capped 400, C 480 (used 920)
    # r3: pool {C}, share 80 -> C 560
    assert (out["A"].alloc_tokens, out["B"].alloc_tokens, out["C"].alloc_tokens) == (400, 40, 560)
    assert out["A"].epochs == 4.0 and out["B"].epochs == 4.0
    assert out["C"].epochs == 0.56
    assert abs(sum(r.budget_frac for r in out.values()) - 1.0) < 1e-9
    # budget below every cap: one uniform share each, no redistribution
    small = {
        r.src: r.alloc_tokens
        for r in epoch_budget_plan(
            df, ["src"], token_budget=90, max_epochs=4
        ).collect()
    }
    assert small == {"A": 30, "B": 30, "C": 30}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        epoch_budget_plan(df, ["src"], token_budget=10, max_epochs=0)


def test_unigram_train_viterbi_em_and_encode(spark):
    """Unigram-LM trainer: frequent multi-char substrings win vocabulary
    slots, Viterbi encode reconstructs every word exactly (coverage
    guarantee: single chars always in the inventory), unknown chars at
    encode time degrade to char pieces, fertility beats-or-matches chars
    and the trainer rejects degenerate iteration counts."""
    import pytest as _pytest

    from dbt_meshify_spark.operators.unigram import (
        apply_unigram,
        train_unigram,
        word_types,
    )

    rows = [(i, "the cat sat on the mat " * 3) for i in range(8)] + [
        (100, "zq xv"),  # rare words: substrings below min_count drop out
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab = train_unigram(df, vocab_size=32, n_iters=2, max_piece_len=4)
    got = {r.piece: (r.rank, r.freq) for r in vocab.collect()}
    assert got, "empty vocabulary"
    # whole frequent words (<= max_piece_len) become single pieces
    assert "the" in got and "cat" in got and "mat" in got
    # usage counts: 'the' appears 2x per repeat x 3 repeats x 8 docs = 48
    assert got["the"][1] == 48
    # ranks are 1..n, unique, ordered by (freq desc, piece asc)
    ranks = sorted(r.rank for r in vocab.collect())
    assert ranks == list(range(1, len(ranks) + 1))

    # encode with the trained counts: concatenated pieces == the word
    counts = {r.piece: r.freq for r in vocab.collect()}
    enc = apply_unigram(df, counts)
    for row in enc.select("text", "unigram_tokens").collect():
        words = row.text.strip().lower().split()
        toks = list(row.unigram_tokens)
        rebuilt = []
        for w in words:
            acc = ""
            while len(acc) < len(w):
                acc += toks.pop(0)
            rebuilt.append(acc)
        assert rebuilt == words and not toks
    # unknown characters (absent from training) still segment
    unk = spark.createDataFrame([(1, "qqq 999")], ["doc_id", "text"])
    out = apply_unigram(unk, counts).collect()[0]
    assert "".join(out.unigram_tokens) == "qqq999"

    with _pytest.raises(ValueError):
        train_unigram(df, n_iters=0)

    # word-type table excludes over-length words (documented training cut)
    long = spark.createDataFrame(
        [(1, "short " + "x" * 40)], ["doc_id", "text"]
    )
    assert word_types(long, max_word_len=12).count() == 1


def test_unigram_fertility_comparable_to_bpe(spark):
    """The tokenizer-fit metric (fertility = subword tokens per word) for
    the unigram model must be finite, >= 1, and in the same regime as the
    BPE tokenizer trained on the same corpus — the cross-tokenizer audit
    a curation pipeline runs before committing to a vocab."""
    from dbt_meshify_spark.operators.bpe import apply_bpe, train_bpe
    from dbt_meshify_spark.operators.unigram import apply_unigram, train_unigram
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).limit(200)

    counts = {
        r.piece: r.freq
        for r in train_unigram(docs, vocab_size=256, n_iters=2).collect()
    }
    uni = apply_unigram(docs, counts).withColumn(
        "n_words", F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    )
    f_uni = uni.agg(
        (F.sum("n_unigram_tokens") / F.sum("n_words")).alias("f")
    ).collect()[0]["f"]

    merges = train_bpe(docs, n_merges=30, sample_max=2048)
    bpe = apply_bpe(docs, merges).withColumn(
        "n_words", F.size(F.split(F.trim(F.lower("text")), r"\s+"))
    )
    f_bpe = bpe.agg(
        (F.sum("n_bpe_tokens") / F.sum("n_words")).alias("f")
    ).collect()[0]["f"]

    assert f_uni >= 1.0 and f_bpe >= 1.0
    # same regime: neither explodes to chars-per-word while the other sits
    # at whole words (documents words are short; keep a loose band)
    assert f_uni < 8.0 and f_bpe < 8.0


# -------------------------------------------------------------- sketches


def test_cms_never_undercounts_under_forced_collisions(spark):
    """Count-min hard invariant: est >= true for EVERY key, even with a
    tiny width (16) that forces heavy collisions; and the standard error
    bound holds for the planted heavy hitter."""
    from dbt_meshify_spark.operators.sketches import cms_estimate, cms_sketch

    rows = [("hot",)] * 500 + [(f"k{i % 60}",) for i in range(900)]
    df = spark.createDataFrame(rows, ["k"]).repartition(8)
    sketch = cms_sketch(df, "k", depth=3, width=16, prefix="t")
    truth = df.groupBy("k").agg(F.count("*").alias("true_count"))
    est = cms_estimate(truth, sketch, "k", depth=3, width=16, prefix="t")
    got = {r.k: (r.cms_est, r.true_count) for r in est.collect()}
    assert len(got) == 61
    for k, (e, t) in got.items():
        assert e >= t, f"count-min undercounted {k}: est {e} < true {t}"
    # the sketch is construction-bounded: at most depth*width cells
    assert sketch.count() <= 3 * 16
    # heavy hitter stays identifiable: est('hot') is within e/width * N
    # of truth in expectation; assert the generous deterministic 2x bound
    assert got["hot"][0] <= 500 + 2 * (2.718 / 16) * 1400


def test_cms_sketch_merges_across_shards(spark):
    """Cell-wise sum of two shard sketches equals the full-corpus sketch —
    the mergeability that makes the sketch a streaming/multi-shard state."""
    from dbt_meshify_spark.operators.sketches import cms_sketch

    rows = [(f"k{i % 37}",) for i in range(700)]
    df = spark.createDataFrame(rows, ["k"]).withColumn(
        "half", (F.monotonically_increasing_id() % 2).cast("int")
    )
    full = cms_sketch(df, "k", depth=2, width=32, prefix="m")
    merged = (
        cms_sketch(df.filter(F.col("half") == 0), "k", 2, 32, "m")
        .unionByName(cms_sketch(df.filter(F.col("half") == 1), "k", 2, 32, "m"))
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
    )
    f = {(r.r, r.b): r.c for r in full.collect()}
    m = {(r.r, r.b): r.c for r in merged.collect()}
    assert f == m


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every inserted key must test positive (no false negatives — the
    Bloom guarantee the decontamination prefilter relies on); false
    positives on disjoint probes stay under a generous multiple of the
    analytic rate."""
    from dbt_meshify_spark.operators.sketches import bloom_member, bloom_positions

    inserted = spark.createDataFrame([(f"in{i}",) for i in range(800)], ["g"])
    pos = bloom_positions(inserted, "g", num_bits=8192, num_hashes=3)
    assert pos.count() <= 8192
    self_probe = bloom_member(inserted, "g", pos, 8192, 3)
    assert self_probe.filter(~F.col("bloom_hit")).count() == 0
    outside = spark.createDataFrame([(f"out{i}",) for i in range(2000)], ["g"])
    fp = bloom_member(outside, "g", pos, 8192, 3).filter(F.col("bloom_hit")).count()
    # analytic rate (1 - exp(-3*800/8192))^3 ~= 1.6% -> expect ~33; allow 4x
    assert fp <= 140, f"false-positive rate blew the bound: {fp}/2000"


def test_bloom_decontaminate_audit_invariants(spark):
    """End-to-end audit on real documents: bloom matches are a superset of
    exact matches per doc (false_pos >= 0), and every exactly-contaminated
    doc is bloom-contaminated (prefilter safety — no false negatives)."""
    from dbt_meshify_spark.operators.sketches import bloom_decontaminate
    from dbt_meshify_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    out = bloom_decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    ).collect()
    assert out, "no rows from the audit"
    n_fp = 0
    for r in out:
        assert r.bloom_matched >= r.exact_matched, r
        assert r.false_pos == r.bloom_matched - r.exact_matched
        n_fp += r.false_pos
        exact_contaminated = r.n_grams > 0 and (
            r.exact_matched / r.n_grams >= 0.2
        )
        if exact_contaminated:
            assert r.contaminated_bloom, f"bloom missed a contaminated doc: {r}"
    # the audit exists to MEASURE the fp cost; at these parameters some
    # collisions are expected on 16k+ grams against 8192 bits
    assert n_fp >= 0


def test_zorder_layout_bounds_every_dimension_per_file(spark, tmp_path):
    """Z-order writer: parquet file-level min/max stats must bound BOTH
    cluster dimensions per file (~range/sqrt(files) each) — the property a
    1-d sort cannot give (its second dim spans the full range in every
    file). That's what makes filters on EITHER column skip files."""
    import os

    import pyarrow.parquet as pq

    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.sources.layout import zorder_layout

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day_of_month", F.dayofmonth("ts")
    )
    out = str(tmp_path / "zordered")
    zorder_layout(ev, out, ["user_id", "day_of_month"], bits=8, target_files=16)
    files = [
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) >= 8  # range partitioner may merge near-empty tails
    spans = {"user_id": [], "day_of_month": []}
    glob = {
        "user_id": (0, 0),
        "day_of_month": (0, 0),
    }
    stats = ev.agg(
        F.min("user_id"), F.max("user_id"),
        F.min("day_of_month"), F.max("day_of_month"),
    ).collect()[0]
    glob["user_id"] = (stats[0], stats[1])
    glob["day_of_month"] = (stats[2], stats[3])
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        for dim in spans:
            i = cols[dim]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[dim].append(max(maxs) - min(mins))
    for dim, ss in spans.items():
        full = glob[dim][1] - glob[dim][0]
        # median file must cover well under the full range on EVERY dim
        ss.sort()
        med = ss[len(ss) // 2]
        assert med <= 0.55 * full, (
            f"{dim}: median per-file span {med} vs global {full} — "
            f"Z-order clustering lost"
        )
    # round-trip: the clustered copy holds the same rows
    assert spark.read.parquet(out).count() == ev.count()


# --------------------------------------------------------------- privacy


def test_suppress_small_groups_releases_only_k_anonymous_rows(spark):
    """After suppression every surviving QI group has >= k rows AND >= k
    distinct users, and kept + suppressed partitions the input."""
    from dbt_meshify_spark.operators.privacy import (
        k_anonymity_report,
        suppress_small_groups,
    )
    from dbt_meshify_spark.sources import load_table

    ev = load_table(spark, SF_ORACLE, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") / F.lit(100.0)).cast("bigint").alias("vbucket"),
        "user_id",
    )
    qi = ["event_type", "day", "vbucket"]
    total = ev.count()
    released = suppress_small_groups(ev, qi, "user_id", k=5)
    audit = k_anonymity_report(released, qi, "user_id", k=5)
    assert audit.filter(F.col("at_risk")).count() == 0
    n_risky_rows = (
        k_anonymity_report(ev, qi, "user_id", k=5)
        .filter(F.col("at_risk"))
        .agg(F.sum("group_size"))
        .collect()[0][0]
    )
    assert n_risky_rows and n_risky_rows > 0, "fixture must exercise suppression"
    assert released.count() == total - n_risky_rows


def test_bounded_contribution_certifies_sensitivity(spark):
    """The released per-user contribution can never exceed
    max_per_user * hi * 100 units (the certified sensitivity), the cap
    drops exactly the rows beyond the per-(user, group) quota, and
    integer unit sums make the release reproducible."""
    from dbt_meshify_spark.operators.privacy import bounded_contribution_agg
    from dbt_meshify_spark.sources import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    out = bounded_contribution_agg(
        ev, ["event_type"], max_per_user=10, lo=0.0, hi=100.0
    ).collect()
    assert out
    bound = 10 * 100 * 100
    for r in out:
        assert r.max_user_units <= bound, r
        assert r.n_capped >= 0 and r.n_kept > 0
    # cap accounting: kept + capped == group totals
    totals = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for r in out:
        assert r.n_kept + r.n_capped == totals[r.event_type], r
    # a user with > max_per_user events must actually be capped somewhere
    assert any(r.n_capped > 0 for r in out), "fixture must exercise the cap"


def test_zorder_value_matches_reference_interleave_exhaustively(spark):
    """Exhaustive 3-dim check of the Morton bit layout against a Python
    reference over the full 8x8x8 grid (bits=3), plus bijectivity — the
    property the per-file span guarantee rests on for ANY dim count."""
    import itertools

    from dbt_meshify_spark.sources.layout import zorder_value

    bits = 3
    rows = [(a, b, c) for a, b, c in itertools.product(range(8), repeat=3)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = df.withColumn(
        "z", zorder_value([F.col("a"), F.col("b"), F.col("c")], bits=bits)
    ).collect()

    def morton3(a: int, b: int, c: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (3 * i + 2)
            z |= ((b >> i) & 1) << (3 * i + 1)
            z |= ((c >> i) & 1) << (3 * i)
        return z

    for r in got:
        assert r.z == morton3(r.a, r.b, r.c), r
    assert len({r.z for r in got}) == 512  # bijective on the grid


def test_zorder_bucket_monotone_and_in_range(spark):
    """zorder_bucket must map [vmin, vmax] into [0, 2^bits) monotonically —
    the ranking property that keeps interleave non-degenerate on dims whose
    raw high bits are empty."""
    from dbt_meshify_spark.sources.layout import zorder_bucket

    df = spark.range(0, 366).select(F.col("id").alias("v"))
    out = (
        df.withColumn(
            "b",
            zorder_bucket(F.col("v"), F.lit(0).cast("long"),
                          F.lit(365).cast("long"), bits=8),
        )
        .orderBy("v")
        .collect()
    )
    bs = [r.b for r in out]
    assert all(0 <= b < 256 for b in bs)
    assert bs == sorted(bs)
    assert bs[0] == 0 and bs[-1] == 255


def test_kmv_exact_below_k_and_accurate_above(spark):
    """Below k the sketch IS the exact distinct set (estimate exact); above
    k the (k-1)/u_k estimator lands within the ~1/sqrt(k-2) band on 10k
    planted distinct values (deterministic md5 hashes — the assertion is a
    fixed fact, not a flaky sample)."""
    from dbt_meshify_spark.operators.sketches import kmv_cardinality

    small = spark.createDataFrame(
        [("a", i % 40) for i in range(500)], "g string, v long"
    )
    r = kmv_cardinality(small, ["g"], "v", k=256).collect()[0]
    assert r.n_exact == 40 and r.n_kept == 40 and r.kmv_est == 40.0

    big = spark.createDataFrame(
        [("a", i) for i in range(10_000)], "g string, v long"
    ).repartition(16)
    r = kmv_cardinality(big, ["g"], "v", k=256).collect()[0]
    assert r.n_exact == 10_000 and r.n_kept == 256
    assert abs(r.kmv_est - 10_000) / 10_000 < 0.20, r


def test_kmv_state_merges_across_shards(spark):
    """Union of two shards' retained-hash sets, re-taking the k smallest,
    equals the full-corpus sketch — the mergeability that makes KMV a
    per-shard/streaming state like the CMS cells."""
    from dbt_meshify_spark.operators.skew import topk_per_key
    from dbt_meshify_spark.operators.sketches import _md5_hex8

    df = spark.createDataFrame(
        [("a", i) for i in range(3_000)], "g string, v long"
    )
    hv = _md5_hex8(F.col("v"), "kmv").alias("__hv")
    dh = df.select("g", hv).distinct()
    full = {
        r["__hv"]
        for r in topk_per_key(dh, ["g"], [F.col("__hv").asc()], 64).collect()
    }
    parts = []
    for half in (0, 1):
        shard = df.filter(F.col("v") % 2 == half).select("g", hv).distinct()
        parts.append(topk_per_key(shard, ["g"], [F.col("__hv").asc()], 64))
    merged_df = parts[0].select("g", "__hv").unionByName(
        parts[1].select("g", "__hv")
    )
    merged = {
        r["__hv"]
        for r in topk_per_key(
            merged_df.distinct(), ["g"], [F.col("__hv").asc()], 64
        ).collect()
    }
    assert merged == full and len(full) == 64


def test_quantile_sketch_cells_bounded_and_mergeable(spark):
    """Fixed-grid quantile sketch state invariants: at most ``width`` cells
    per key regardless of row count, and the cell-wise sum of two shard
    sketches equals the full-corpus sketch (the mergeability that makes it
    a streaming/multi-shard state, like the CMS twin)."""
    from dbt_meshify_spark.operators.sketches import quantile_sketch_cells

    rows = [("a", float(i % 97)) for i in range(3000)] + [
        ("b", float(i % 13) * 31.0) for i in range(900)
    ]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    full = quantile_sketch_cells(df, ["g"], "v", lo=0.0, hi=512.0, width=64)
    per_key = {r.g: r.n for r in full.groupBy("g").count().withColumnRenamed("count", "n").collect()}
    assert all(n <= 64 for n in per_key.values()), per_key
    half = df.withColumn("h", (F.col("v").cast("int") % 2))
    merged = (
        quantile_sketch_cells(half.filter(F.col("h") == 0), ["g"], "v", 0.0, 512.0, 64)
        .unionByName(
            quantile_sketch_cells(half.filter(F.col("h") == 1), ["g"], "v", 0.0, 512.0, 64)
        )
        .groupBy("g", "b")
        .agg(F.sum("c").alias("c"))
    )
    f = {(r.g, r.b): r.c for r in full.collect()}
    m = {(r.g, r.b): r.c for r in merged.collect()}
    assert f == m


def test_quantile_sketch_estimate_within_grid_resolution(spark):
    """Hard error band vs the exact rank statistic: the interpolated
    estimate and the true rank-ceil(q*n) value land in the SAME grid
    bucket by construction, so abs_err <= (hi-lo)/width always — and the
    estimate also tracks the continuous exact percentile (q23's truth
    family) to within a bucket plus the local order-statistic gap."""
    from dbt_meshify_spark.operators.sketches import quantile_sketch_report
    from dbt_meshify_spark.sources import load_table

    qs = [0.25, 0.5, 0.75, 0.9, 0.99]
    ev = load_table(spark, SF_ORACLE, "events")
    out = quantile_sketch_report(
        ev, ["event_type"], "value", qs, lo=0.0, hi=512.0, width=128
    ).collect()
    span = 512.0 / 128
    n_types = ev.select("event_type").distinct().count()
    assert len(out) == n_types * len(qs)
    for r in out:
        assert 0.0 <= r.est_q <= 512.0, r
        assert r.abs_err <= span + 1e-9, f"grid bound violated: {r}"
    exact = {
        (r.event_type, q): p
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.25, 0.5, 0.75, 0.9, 0.99))"
            ).alias("p")
        )
        .collect()
        for q, p in zip(qs, r.p)
    }
    for r in out:
        assert abs(r.est_q - exact[(r.event_type, r.q)]) <= span + 1.0, (
            r,
            exact[(r.event_type, r.q)],
        )


def test_grid_bucket_nan_pins_to_null(spark):
    """NaN and NULL map to a NULL bucket INSIDE _grid_bucket (not via
    call-site filters): Spark's GREATEST/LEAST ignore NULL and carry NaN to
    bucket 0 where DuckDB treats NaN as largest (bucket width-1) — the
    round-11 advice's silent cross-engine divergence. Edges clamp."""
    from dbt_meshify_spark.operators.sketches import _grid_bucket

    df = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, -5.0), (4, 1e300), (5, 10.0)],
        "id int, v double",
    )
    out = {
        r.id: r.b
        for r in df.select(
            "id", _grid_bucket(F.col("v"), 0.0, 100.0, 10).alias("b")
        ).collect()
    }
    assert out == {1: None, 2: None, 3: 0, 4: 9, 5: 1}


def test_salted_pin_registry_releases_previous_frames(spark):
    """Repeated salted-operator invocations in one session must not
    accumulate persisted event-sized frames (round-11 advice): each call
    releases the frame its tag pinned before, so at most one cached frame
    per operator tag is live, and release_pinned_frames() clears the rest."""
    from dbt_meshify_spark.operators import temporal as T

    ev = spark.createDataFrame(
        [("u1", i, f"e{i}") for i in range(20)],
        "user_id string, off int, event_id string",
    ).select(
        "user_id",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,off*60)").alias("ts"),
        "event_id",
    )
    first = T.sessionize_salted(ev, gap_s=1800, bucket_s=3600)
    assert first.count() == 20
    key = (spark.sparkContext.applicationId, "sessionize_salted")
    pinned_first = T._PINNED[key]
    assert pinned_first.storageLevel.useMemory
    second = T.sessionize_salted(ev, gap_s=900, bucket_s=3600)
    assert second.count() == 20
    # the first invocation's pin was released by the second
    assert not pinned_first.storageLevel.useMemory
    assert T._PINNED[key] is not pinned_first
    # entries orphaned by stopped sessions are swept on the next pin
    T._PINNED[("app-dead-session", "sessionize_salted")] = pinned_first
    T.sessionize_salted(ev, gap_s=1800, bucket_s=3600).count()
    assert ("app-dead-session", "sessionize_salted") not in T._PINNED
    T.release_pinned_frames()
    assert T._PINNED == {}


def test_l_diversity_flags_and_flagged_release(spark):
    """Distinct and recursive (c,l) flags fire on planted homogeneous /
    skewed groups and stay quiet on an even group; entropy audit respects
    its analytic bounds; and suppress_flagged releases only groups that
    re-audit clean (the k-anonymity release-test mirror)."""
    import math

    from dbt_meshify_spark.operators.privacy import (
        l_diversity_report,
        suppress_flagged,
    )

    rows = (
        [("homog", "x")] * 10
        + [("skew", "s0")] * 8
        + [("skew", "s1"), ("skew", "s2")]
        + [("even", f"s{i % 5}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, s string")
    rep = l_diversity_report(df, ["g"], "s", l=3, c=2)
    by_g = {r.g: r for r in rep.collect()}
    assert by_g["homog"].n_sensitive == 1
    assert by_g["homog"].at_risk_distinct and by_g["homog"].at_risk_recursive
    assert by_g["homog"].entropy == pytest.approx(0.0, abs=1e-12)
    # skew: 3 distinct (passes distinct-l) but top 8 >= 2 * tail 1
    assert by_g["skew"].n_sensitive == 3 and not by_g["skew"].at_risk_distinct
    assert by_g["skew"].at_risk_recursive
    assert by_g["skew"].max_share == pytest.approx(0.8)
    # even: 5 distinct, top 2 < 2 * (10 - 4) = 12
    assert not by_g["even"].at_risk_distinct
    assert not by_g["even"].at_risk_recursive
    for r in by_g.values():
        assert -1e-9 <= r.entropy <= math.log(r.n_sensitive) + 1e-9, r
    released = suppress_flagged(df, ["g"], rep, "at_risk_recursive")
    assert {r.g for r in released.collect()} == {"even"}
    re_audit = l_diversity_report(released, ["g"], "s", l=3, c=2)
    assert re_audit.filter(F.col("at_risk_recursive")).count() == 0


def test_l_diversity_groups_null_sensitive_values(spark):
    """A NULL sensitive value is a value like any other (a group whose
    sensitive attribute is always missing is still homogeneous): it counts
    toward n_sensitive and the modal share."""
    from dbt_meshify_spark.operators.privacy import l_diversity_report

    rows = [("g1", None)] * 6 + [("g1", "a")] * 2
    df = spark.createDataFrame(rows, "g string, s string")
    r = l_diversity_report(df, ["g"], "s", l=3, c=2).collect()[0]
    assert r.n_sensitive == 2 and r.top_count == 6
    assert r.at_risk_distinct and r.at_risk_recursive


def test_byte_bpe_round_trips_non_ascii_and_emoji(spark):
    """Byte-level BPE existence property: ANY input — accents, CJK, emoji —
    decodes back byte-exactly by unhexing the concatenated symbols of each
    word (split on the </w> marker), after real merges have applied."""
    rows = [
        (1, "héllo wörld 👋 héllo héllo"),
        (2, "naïve café 日本語 👋👋"),
        (3, "héllo naïve wörld café"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from dbt_meshify_spark.operators.bpe import (
        apply_bpe_delimited,
        train_bpe_distributed,
    )

    merges_df = train_bpe_distributed(df, n_merges=5, alphabet="byte")
    merges = [
        (r.lhs, r.rhs) for r in merges_df.orderBy("merge_rank").collect()
    ]
    assert len(merges) == 5
    enc = {r.doc_id: r for r in apply_bpe_delimited(df, merges, alphabet="byte").collect()}
    for doc_id, text in rows:
        words = text.lower().split()
        toks = enc[doc_id].bpe_tokens
        # merges must have actually compressed below the raw byte count
        raw_syms = sum(len(w.encode("utf-8")) + 1 for w in words)
        assert enc[doc_id].n_bpe_tokens < raw_syms
        segs = "".join(toks).split("</w>")
        assert segs[-1] == ""
        decoded = [bytes.fromhex(s).decode("utf-8") for s in segs[:-1]]
        assert decoded == words, (doc_id, decoded, words)


def test_bounded_contribution_excludes_null_values_and_validates_cap(spark):
    """NULL measurements must not leak lo*100 units into the release (they
    are excluded, stated semantics), and a non-positive cap is a config
    error, not a silent empty release."""
    from dbt_meshify_spark.operators.privacy import bounded_contribution_agg

    rows = [
        (1, "t", 1, 10.0),
        (1, "t", 2, None),
        (1, "t", 3, 20.0),
        (2, "t", 4, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, value double"
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    out = bounded_contribution_agg(
        df, ["event_type"], max_per_user=10, lo=0.0, hi=100.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    # user 2 contributed only a NULL -> not in the release at all
    assert r.n_users == 1
    assert r.n_kept == 2 and r.n_capped == 0
    assert r.sum_units == 1000 + 2000
    with pytest.raises(ValueError):
        bounded_contribution_agg(df, ["event_type"], max_per_user=0)


def test_geometric_noise_table_partitions_and_bounds_ratio():
    """The inverse-CDF table must partition [0, 2^32) contiguously, be
    symmetric, and encode the ε-DP likelihood-ratio bound: adjacent noise
    values' bucket masses differ by at most e^eps (checked where integer
    rounding noise is negligible), with truncated tail mass ~alpha^bound."""
    import math

    from dbt_meshify_spark.operators.privacy import geometric_noise_thresholds

    eps, bound = 0.5, 40
    t = geometric_noise_thresholds(eps, bound)
    assert len(t) == 2 * bound + 1
    assert t[0][1] == 0 and t[-1][2] == 1 << 32
    for (z1, _, hi1), (z2, lo2, _) in zip(t, t[1:]):
        assert z2 == z1 + 1 and lo2 == hi1
    widths = {z: hi - lo for z, lo, hi in t}
    # symmetry up to 1-unit rounding
    for z in range(1, bound + 1):
        assert abs(widths[z] - widths[-z]) <= 2, z
    # e^eps ratio between adjacent masses, where buckets are wide enough
    # that +-1 integer rounding cannot fake a violation
    for z in range(0, bound):
        if widths[z + 1] > 10_000:
            assert widths[z] / widths[z + 1] <= math.exp(eps) * 1.001, z
    # truncated tail: the outermost buckets carry ~alpha^bound mass
    tail_frac = (widths[bound] + widths[-bound]) / float(1 << 32)
    assert tail_frac < 1e-7


def test_dp_noisy_counts_replay_and_clamp(spark):
    """The sampled noise must equal a pure-Python replay of the md5 ->
    u32 -> threshold-walk pipeline for every group (derandomization is the
    point), the release must clamp at zero, and across many groups the
    empirical noise must center near 0 with the geometric spread."""
    import hashlib

    from dbt_meshify_spark.operators.privacy import (
        dp_noisy_user_counts,
        geometric_noise_thresholds,
    )

    rows = [(f"g{i:04d}", j) for i in range(400) for j in range(i % 3 + 1)]
    df = spark.createDataFrame(rows, "g string, user_id long")
    out = {r.g: r for r in dp_noisy_user_counts(df, ["g"], "user_id", eps=0.5, bound=40).collect()}
    assert len(out) == 400
    t = geometric_noise_thresholds(0.5, 40)

    def replay(key: str) -> int:
        u32 = int(hashlib.md5(f"dp0|{key}".encode()).hexdigest()[:8], 16)
        for z, lo, hi in t:
            if lo <= u32 < hi:
                return z
        raise AssertionError("u32 outside table")

    for g, r in out.items():
        assert r.noise == replay(g), g
        assert r.n_released == max(0, r.n_true + r.noise), g
    noises = [r.noise for r in out.values()]
    assert abs(sum(noises) / len(noises)) < 1.0  # geometric sd ~= 3.2 at eps=0.5
    assert sum(1 for z in noises if z == 0) > len(noises) * 0.1
    # the clamp-at-zero branch must actually be exercised: with n_true in
    # {1,2,3} and geometric sd ~3.2, many of the 400 groups draw noise
    # below -n_true
    assert any(
        r.n_released == 0 and r.n_true + r.noise < 0 for r in out.values()
    )


def test_weighted_quantile_matches_hand_computation_and_mass_property(spark):
    """Weighted median on a hand-checkable fixture: one heavy value holds
    most of the mass, so the weighted quantiles sit ON it while the
    unweighted median would not; and on real documents the mass below the
    reported true_q must reach q within the last crossing row's weight."""
    from dbt_meshify_spark.operators.sketches import weighted_quantile_report
    from dbt_meshify_spark.sources import load_table

    rows = [("a", 10.0, 1), ("a", 20.0, 1), ("a", 100.0, 98)]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    out = {
        r.q: r
        for r in weighted_quantile_report(
            df, ["g"], "v", "w", qs=[0.5, 0.9], lo=0.0, hi=128.0, width=64
        ).collect()
    }
    # W=100, r(0.5)=50, r(0.9)=90: both land inside the heavy value's mass
    assert out[0.5].true_q == 100.0 and out[0.9].true_q == 100.0
    assert out[0.5].total_w == 100
    # grid hard bound, same as the count sketch
    for r in out.values():
        assert r.abs_err <= 128.0 / 64 + 1e-9

    docs = load_table(spark, SF_ORACLE, "documents")
    rep = weighted_quantile_report(
        docs, ["lang"], "n_chars", "n_chars",
        qs=[0.25, 0.5, 0.9], lo=0.0, hi=1024.0, width=128,
    ).collect()
    assert rep
    for r in rep:
        below = docs.filter(
            (F.col("lang") == r.lang) & (F.col("n_chars") <= r.true_q)
        ).agg(F.sum("n_chars")).collect()[0][0]
        strictly_below = docs.filter(
            (F.col("lang") == r.lang) & (F.col("n_chars") < r.true_q)
        ).agg(F.coalesce(F.sum("n_chars"), F.lit(0))).collect()[0][0]
        need = r.q * r.total_w
        assert below >= need - 1e-6, (r, below)
        assert strictly_below < need, (r, strictly_below)


def test_quantile_sketch_excludes_nan_like_null(spark):
    """A NaN measurement must be EXCLUDED, not silently bucketed: Spark's
    non-ANSI CAST(floor(NaN) AS INT) lands in bucket 0 while an ANSI SQL
    oracle raises — the pinned behavior is NULL-like exclusion on both
    engines (cells, totals, and ranks all ignore the row)."""
    from dbt_meshify_spark.operators.sketches import (
        quantile_sketch_cells,
        quantile_sketch_report,
    )

    rows = [("a", 1.0), ("a", float("nan")), ("a", 3.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    cells = quantile_sketch_cells(df, ["g"], "v", lo=0.0, hi=4.0, width=4)
    assert cells.agg(F.sum("c")).collect()[0][0] == 2
    rep = quantile_sketch_report(
        df, ["g"], "v", qs=[0.5], lo=0.0, hi=4.0, width=4
    ).collect()
    assert len(rep) == 1 and rep[0].n == 2 and rep[0].true_q == 1.0


def test_dp_release_lattice_replay_and_error_bounds(spark):
    """Both released values live on their sensitivity lattices (multiples
    of the count step / sum sensitivity), each noise draw replays the
    independently-salted md5 -> threshold walk, and the pre-clamp release
    error is bounded by (|z| + 1) lattice steps (one step of quantization
    loss plus the noise)."""
    import hashlib

    from dbt_meshify_spark.operators.privacy import (
        dp_release,
        geometric_noise_thresholds,
    )
    from dbt_meshify_spark.sources import load_table

    ev = load_table(spark, SF_ORACLE, "events")
    out = dp_release(ev, ["event_type"], max_per_user=10, lo=0.0, hi=100.0).collect()
    assert out
    t = geometric_noise_thresholds(0.5, 40)

    def replay(salt: str, key: str) -> int:
        u32 = int(hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:8], 16)
        return next(z for z, lo, hi in t if lo <= u32 < hi)

    S = 10 * 100 * 100
    for r in out:
        assert r.noise_count == replay("dp0|cnt", r.event_type), r
        assert r.noise_sum == replay("dp0|sum", r.event_type), r
        assert r.released_count % 10 == 0 and r.released_count >= 0
        assert r.released_sum_units % S == 0 and r.released_sum_units >= 0
        raw_cnt = (r.n_kept // 10 + r.noise_count) * 10
        raw_sum = (r.sum_units // S + r.noise_sum) * S
        assert r.released_count == max(0, raw_cnt)
        assert r.released_sum_units == max(0, raw_sum)
        assert abs(raw_cnt - r.n_kept) <= (abs(r.noise_count) + 1) * 10
        assert abs(raw_sum - r.sum_units) <= (abs(r.noise_sum) + 1) * S


def test_ccnet_bucket_split_terciles_ordered_and_balanced(spark):
    """Per language: tercile sizes differ by at most 1, bucket ppl ranges
    are ordered head <= middle <= tail (allowing equality at tie
    boundaries), and counts cover exactly the scored (>= 3 token) docs."""
    from dbt_meshify_spark.operators.lm import kn_trigram_perplexity
    from dbt_meshify_spark.queries.extensions import ext_ccnet_bucket_split
    from dbt_meshify_spark.sources import load_table

    out = ext_ccnet_bucket_split(spark, SF_ORACLE).collect()
    docs = load_table(spark, SF_ORACLE, "documents")
    scored = kn_trigram_perplexity(docs).count()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    assert sum(r.n_docs for r in out) == scored
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, lang
        sizes = [b[x].n_docs for x in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert b["head"].max_ppl <= b["middle"].min_ppl + 1e-9, lang
        assert b["middle"].max_ppl <= b["tail"].min_ppl + 1e-9, lang


def test_classifier_discriminates_and_handles_oov(spark):
    """On a separable labeled fixture the NB-posterior classifier must
    cleanly split the classes; on the real corpus the integer weight
    formula and label/threshold parity hold exactly; a doc of entirely
    unknown terms is surfaced unscorable (NULL score, false label) rather
    than dropped."""
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )
    from dbt_meshify_spark.sources import load_table

    rows = [(i, "good clean prose here", True) for i in range(20)] + [
        (100 + i, "spam junk noise here", False) for i in range(20)
    ]
    fx = spark.createDataFrame(rows, "doc_id long, text string, is_pos boolean")
    wfx = train_nb_weights(fx, "is_pos")
    got = {r.term: r.w_units for r in wfx.collect()}
    assert got["good"] > 9000 and got["spam"] < 1000
    assert got["here"] == (20 + 1) * 10000 // (40 + 2)  # shared term ~ base rate
    sc = {r.doc_id: r for r in classify_documents(fx, wfx).collect()}
    assert all(sc[i].label for i in range(20))
    assert not any(sc[100 + i].label for i in range(20))
    assert min(sc[i].score for i in range(20)) > max(
        sc[100 + i].score for i in range(20)
    )

    docs = load_table(spark, SF_ORACLE, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    for r in w.collect():
        assert r.w_units == (r.pos_c + 1) * 10000 // (r.pos_c + r.neg_c + 2)
    scored = classify_documents(docs, w).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    rows2 = scored.collect()
    en = [r.score for r in rows2 if r.lang == "en" and r.score is not None]
    other = [r.score for r in rows2 if r.lang != "en" and r.score is not None]
    # the synthetic corpus shares most vocabulary across langs, so the
    # separation is thin — assert the direction, not a margin
    assert en and other and sum(en) / len(en) > sum(other) / len(other)
    for r in rows2:
        assert r.label == (r.score is not None and r.score >= 0.5), r
    oov = spark.createDataFrame(
        [(999_999, "zzqx vvrbk qqpl")], "doc_id long, text string"
    )
    u = classify_documents(oov, w).collect()[0]
    assert u.score is None and u.label is False and u.n_known == 0


def test_sessionize_salted_equals_naive_on_corpus(spark):
    """The salted two-phase sessionize must produce byte-identical
    (user, event, session_id) labels to the naive single-window form over
    the real events corpus — including cross-bucket session merges (hourly
    buckets, 30-min gap => plenty of boundary-spanning sessions)."""
    from dbt_meshify_spark.operators.temporal import (
        sessionize_events,
        sessionize_salted,
    )
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    naive = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_events(ev, gap_s=1800).collect()
    }
    salted = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_salted(ev, gap_s=1800, bucket_s=3600).collect()
    }
    assert salted == naive and len(naive) == ev.count()
    # and sessions actually cross bucket boundaries in this corpus (the
    # merge path is exercised, not vacuously green)
    import datetime as dt

    by_user: dict = {}
    for r in ev.select("user_id", "ts", "event_id").collect():
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    crossings = 0
    for rows in by_user.values():
        rows.sort()
        for (a, _), (b, _) in zip(rows, rows[1:]):
            if (b - a) <= dt.timedelta(minutes=30) and (
                int(a.timestamp() // 3600) != int(b.timestamp() // 3600)
            ):
                crossings += 1
    assert crossings > 0


def test_sessionize_salted_hot_key_and_edges(spark):
    """Planted hot key + exact boundary edges: a user holding 50% of all
    events must still label identically; a gap of exactly gap_s stays in
    the session (the > test), one microsecond more splits; bucket_s <
    gap_s raises."""
    import datetime as dt

    import pytest

    from dbt_meshify_spark.operators.temporal import (
        sessionize_events,
        sessionize_salted,
    )

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    # hot user 0: events every 20 min for 3 days (sessions merge across
    # every hourly bucket boundary), then a 31-min break
    for i in range(72 * 3):
        rows.append((eid, t0 + dt.timedelta(minutes=20 * i), 0)); eid += 1
    rows.append((eid, t0 + dt.timedelta(minutes=20 * 72 * 3 + 31), 0)); eid += 1
    # boundary-exact user 1: second event exactly gap_s later (same
    # session), third exactly gap_s + 1µs after the second (new session)
    rows.append((eid, t0, 1)); eid += 1
    rows.append((eid, t0 + dt.timedelta(seconds=1800), 1)); eid += 1
    rows.append(
        (eid, t0 + dt.timedelta(seconds=3600, microseconds=1), 1)
    ); eid += 1
    # background users
    for u in range(2, 30):
        for i in range(3):
            rows.append((eid, t0 + dt.timedelta(hours=u, minutes=40 * i), u))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    naive = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_events(ev, gap_s=1800).collect()
    }
    salted = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_salted(ev, gap_s=1800, bucket_s=3600).collect()
    }
    assert salted == naive
    # hot user: one long session then a second
    hot = [v for (u, _), v in salted.items() if u == 0]
    assert max(hot) == 2
    # boundary user: events 1+2 share a session, event 3 opens session 2
    u1 = sorted(
        (eid2, sid) for (u, eid2), sid in salted.items() if u == 1
    )
    assert [s for _, s in u1] == [1, 1, 2]
    with pytest.raises(ValueError):
        sessionize_salted(ev, gap_s=1800, bucket_s=900)


def test_sessionize_salted_keeps_null_keys_like_naive(spark):
    """NULL user_id (and NULL ts) rows form their own window groups in the
    naive form — the salted form's offsets join must be null-safe or those
    rows silently vanish (locked after a review found the inner equi-join
    dropped them)."""
    import datetime as dt

    from dbt_meshify_spark.operators.temporal import (
        sessionize_events,
        sessionize_salted,
    )

    t0 = dt.datetime(2024, 6, 1)
    rows = [
        (1, t0, 7),
        (2, t0 + dt.timedelta(minutes=10), 7),
        (3, t0 + dt.timedelta(minutes=10), None),  # null user, own group
        (4, t0 + dt.timedelta(hours=2), None),     # null user, new session
        (5, None, 7),                              # null ts, null bucket
        (6, None, None),                           # both null
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    naive = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_events(ev, gap_s=1800).collect()
    }
    salted = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize_salted(ev, gap_s=1800, bucket_s=3600).collect()
    }
    assert len(salted) == len(rows), "null-key rows dropped"
    assert salted == naive


def test_sessionize_salted_randomized_triangulation(spark):
    """Seeded randomized fixture engineered to live on the nasty
    boundaries: timestamps clustered around exact gap/bucket multiples,
    hot keys, NULL users and NULL timestamps. Triangulates THREE
    implementations — a pure-Python reference, the naive single-window
    operator, and the salted two-phase operator — across two
    (gap_s, bucket_s) combos including bucket_s == gap_s (the minimum
    legal salt granularity, where cross-bucket merges are densest)."""
    import datetime as dt
    import random

    from dbt_meshify_spark.operators.temporal import (
        sessionize_events,
        sessionize_salted,
    )

    rng = random.Random(11)
    t0 = dt.datetime(2024, 7, 1)
    rows = []
    eid = 0
    for _ in range(600):
        user = rng.choice([None, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7])  # 0 is hot
        if rng.random() < 0.03:
            ts = None
        else:
            # land near multiples of 900s with jitter in {-1µs, 0, +1µs}
            base = rng.randrange(0, 4 * 86400, 900)
            jitter = rng.choice([-1, 0, 1])
            ts = t0 + dt.timedelta(seconds=base, microseconds=jitter)
        rows.append((eid, ts, user))
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    def py_ref(gap_s):
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r[2], []).append((r[1], r[0]))
        out = {}
        none_first = lambda t: (t[0] is not None, t[0] or dt.datetime.min, t[1])
        for u, evs in by_user.items():
            evs.sort(key=none_first)  # NULLS FIRST, tiebreak event_id
            sid, prev = 0, None
            for ts, eid2 in evs:
                # first row: lag NULL -> new; ts None rows sort first and a
                # NULL gap comparison also falls to "new session"
                if prev is None or ts is None or (ts - prev) > dt.timedelta(seconds=gap_s):
                    sid += 1
                out[(u, eid2)] = sid
                prev = ts
        return out

    for gap_s, bucket_s in ((1800, 3600), (900, 900)):
        ref = py_ref(gap_s)
        naive = {
            (r.user_id, r.event_id): r.session_id
            for r in sessionize_events(ev, gap_s=gap_s).collect()
        }
        salted = {
            (r.user_id, r.event_id): r.session_id
            for r in sessionize_salted(ev, gap_s=gap_s, bucket_s=bucket_s).collect()
        }
        assert naive == ref, f"naive != python reference at gap={gap_s}"
        assert salted == naive, f"salted != naive at gap={gap_s} bucket={bucket_s}"


def test_asof_join_salted_equals_naive_all_modes(spark):
    """The salted two-phase as-of join must equal the naive union+window
    form row-for-row: backward and forward directions, with and without
    tolerance, on a seeded fixture with a hot key (60% of left rows),
    NULL keys, NULL right-side values (each carried column LOCFs
    independently past them), multi-bucket gaps (the seed chain must
    carry across EMPTY buckets, unlike sessionize's adjacent-only merge),
    and exact-timestamp ties (backward is inclusive)."""
    import datetime as dt
    import random

    from dbt_meshify_spark.operators.temporal import asof_join, asof_join_salted

    rng = random.Random(7)
    t0 = dt.datetime(2024, 8, 1)
    lrows, rrows = [], []
    for i in range(400):
        user = 0 if rng.random() < 0.6 else rng.choice([None, 1, 2, 3, 4])
        ts = t0 + dt.timedelta(seconds=rng.randrange(0, 6 * 86400, 450))
        lrows.append((i, user, ts))
    seen = set()
    for j in range(120):
        user = 0 if rng.random() < 0.5 else rng.choice([None, 1, 2, 3, 4])
        # right unique per (user, ts): the determinism contract — which
        # permits AT MOST ONE NULL-ts right row per user (planted below:
        # its value must carry in backward mode exactly as the naive
        # window's nulls-first order dictates — a review found the salted
        # pick once ignored it entirely)
        if rng.random() < 0.05:
            ts = None
        else:
            ts = t0 + dt.timedelta(seconds=rng.randrange(0, 6 * 86400, 450))
        if (user, ts) in seen:
            continue
        seen.add((user, ts))
        price = None if rng.random() < 0.2 else round(rng.random() * 100, 2)
        qty = None if rng.random() < 0.2 else rng.randrange(1, 9)
        rrows.append((user, ts, price, qty))
    left = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "user_id long, rts timestamp, price double, qty long"
    )

    def canon(df):
        return sorted(
            (r.event_id, str(r.user_id), str(r._matched_ts), str(r.price), str(r.qty))
            for r in df.collect()
        )

    for direction in ("backward", "forward"):
        for tol in (None, "1 hour"):
            kw = dict(
                keys=["user_id"], left_ts="ts", right_ts="rts",
                value_cols=["price", "qty"], direction=direction, tolerance=tol,
            )
            naive = canon(asof_join(left, right, **kw))
            salted = canon(asof_join_salted(left, right, bucket_s=3600, **kw))
            assert salted == naive, f"mismatch at {direction} tol={tol}"
            assert len(naive) == len(lrows)


def test_exact_dedup_hot_key_and_null_order_fields(spark):
    """The min_by rebase must keep exact window-form semantics: a planted
    hot key (50% of rows sharing one text) keeps exactly its lowest-id
    copy, groups whose order field is NULL still emit a row (struct
    ordering treats null fields as smallest — asc_nulls_first parity),
    and NULL dedup keys form one group."""
    from dbt_meshify_spark.operators import exact_dedup

    rows = []
    for i in range(200):
        text = "hot boilerplate" if i % 2 == 0 else f"unique {i}"
        rows.append((i, text))
    rows.append((1000, None))      # null key group
    rows.append((1001, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.text: r.doc_id for r in exact_dedup(df, ["text"], order_by=["doc_id"]).collect()}
    assert out["hot boilerplate"] == 0          # lowest id kept
    assert out[None] == 1000                    # null keys deduped as one group
    assert len(out) == 100 + 1 + 1              # 100 uniques + hot + null
    # null ORDER field: nulls-first parity with the window form
    df2 = spark.createDataFrame(
        [(None, "a"), (5, "a"), (3, "b")], "rank long, k string"
    )
    kept = {r.k: r.rank for r in exact_dedup(df2, ["k"], order_by=["rank"]).collect()}
    assert kept == {"a": None, "b": 3}


def test_bounded_contribution_skew_safe_equals_naive_window(spark):
    """The r11 skew-safe cap (combiner topk + partial-agg totals) must
    produce exactly the naive single-window release on a planted bot: one
    user holding 70% of a group's rows, plus NULL values (excluded before
    counting on both paths) and NULL timestamps (nulls-first cap order)."""
    import datetime as dt

    from pyspark.sql import Window as W

    from dbt_meshify_spark.operators.privacy import (
        _clamped_units,
        bounded_contribution_agg,
    )

    t0 = dt.datetime(2024, 9, 1)
    rows = []
    for i in range(300):
        user = 7 if i % 10 < 7 else 100 + (i % 10)
        ts = None if i % 37 == 0 else t0 + dt.timedelta(minutes=i)
        val = None if i % 29 == 0 else float(i % 150)
        rows.append((i, ts, user, "click", val))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r.event_type: (r.n_users, r.n_kept, r.n_capped, r.sum_units, r.max_user_units)
        for r in bounded_contribution_agg(ev, ["event_type"]).collect()
    }
    # naive single-window reference
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    base = ev.filter(F.col("value").isNotNull()).withColumn(
        "__rn", F.row_number().over(w)
    )
    keep = F.col("__rn") <= 10
    per_user = base.withColumn(
        "__u", F.when(keep, _clamped_units(F.col("value"), 0.0, 100.0))
    ).groupBy("user_id", "event_type").agg(
        F.sum(keep.cast("int")).alias("__n"),
        F.sum((~keep).cast("int")).alias("__n_over"),
        F.coalesce(F.sum("__u"), F.lit(0)).alias("__uu"),
    )
    want = {
        r.event_type: (r.n_users, r.n_kept, r.n_capped, r.sum_units, r.max_user_units)
        for r in per_user.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("__n").cast("bigint").alias("n_kept"),
            F.sum("__n_over").cast("bigint").alias("n_capped"),
            F.sum("__uu").cast("bigint").alias("sum_units"),
            F.max("__uu").cast("bigint").alias("max_user_units"),
        ).collect()
    }
    assert got == want and got["click"][2] > 0  # the bot actually got capped


def test_keep_best_of_cluster_keeps_null_id_rows(spark):
    """A NULL doc_id (no pairs) labels into the NULL cluster; the r11
    argmax rebase's flag join must be null-safe or the row silently
    vanishes (review-caught). The row is its own cluster's
    representative."""
    from dbt_meshify_spark.operators.dedup import keep_best_of_cluster

    scored = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (None, 0.7)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    rows = keep_best_of_cluster(scored, pairs, score_col="quality").collect()
    assert len(rows) == 3, "NULL-id row dropped"
    by_id = {r.doc_id: r for r in rows}
    assert by_id[None].is_representative
    assert by_id[1].is_representative and not by_id[2].is_representative
