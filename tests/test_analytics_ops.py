"""Tests for Pregel analytics, temporal joins, multimodal plumbing, and
streaming operators."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_bfs_levels(spark):
    from graph_db_spark.pregel import bfs_levels

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (9, 10)], "src LONG, dst LONG"
    )
    src = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["level"] for r in bfs_levels(edges, src).collect()}
    assert got == {0: 0, 1: 1, 4: 1, 2: 2, 3: 2}  # 3 via shorter path; 9/10 unreachable


def test_bfs_visited_consolidation_boundary(spark, monkeypatch):
    """The round-16 visited-set consolidation (checkpoint the lazy
    visited union every _VISITED_CONSOLIDATE levels instead of every
    level) must be invisible to results. Force the interval down to 2 so
    a 7-level path crosses several consolidation boundaries — covering
    bfs_levels, tagged_bfs_levels, AND the _reachable_on loop (all run
    pregel._bfs) past the boundary the bundled shallow fixtures never
    reach."""
    import graph_db_spark.pregel as pregel

    monkeypatch.setattr(pregel, "_VISITED_CONSOLIDATE", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)] + [(0, 3)], "src LONG, dst LONG"
    )
    src = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["level"] for r in pregel.bfs_levels(edges, src).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2, 5: 3, 6: 4, 7: 5}
    tagged = spark.createDataFrame([(0, "a"), (4, "b")], "id LONG, tag STRING")
    tg = {
        (r["id"], r["tag"]): r["level"]
        for r in pregel.tagged_bfs_levels(edges, tagged).collect()
    }
    assert tg[(7, "a")] == 5 and tg[(7, "b")] == 3 and tg[(3, "a")] == 1
    # _reachable_on runs the same core in its other mode (returns the
    # consolidated visited set, releasing level frames as they fold in)
    # — drive it past the boundary too. 5 levels deep at interval 2
    # crosses two consolidations; the reachable set must be exact.
    import graph_db_spark.graph as graph_mod
    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot

    ei = edges.select(
        "src",
        F.lit("T").alias("idx_tag"),
        F.lit(None).cast("string").alias("idx_key"),
        "dst",
    )
    snap = GraphSnapshot(
        spark.range(8).select("id", F.lit("N").alias("kind")), edges, ei, catalogue_schema()
    )
    e_narrow = edges.select("src", "dst").persist()
    try:
        # the default guard broadcasts every level; a guard of 0 ids runs
        # every level through the shuffle (degraded) branch
        for max_ids in (GraphSnapshot.BFS_BROADCAST_MAX_IDS, 0):
            monkeypatch.setattr(GraphSnapshot, "BFS_BROADCAST_MAX_IDS", max_ids)
            reach = sorted(
                r["id"] for r in snap._reachable_on(e_narrow, 0, 100).collect()
            )
            assert reach == [0, 1, 2, 3, 4, 5, 6, 7], max_ids
    finally:
        e_narrow.unpersist()


def test_connected_components(spark):
    from graph_db_spark.pregel import connected_components

    verts = spark.createDataFrame([(i,) for i in range(7)], "id LONG")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src LONG, dst LONG")
    got = {r["id"]: r["component"] for r in connected_components(verts, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_asof_join(spark):
    from graph_db_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 5), (2, 7), (3, 1)], "k LONG, t LONG"
    )
    right = spark.createDataFrame(
        [(1, 4, "a"), (1, 9, "b"), (1, 11, "c"), (2, 7, "d")], "k LONG, t LONG, v STRING"
    )
    out = asof_join(left, right, key="k", left_ts="t", right_ts="t", right_cols=["v"])
    got = {(r["k"], r["t"]): r["v"] for r in out.collect()}
    # at-or-before semantics; equal timestamps match (side ordering)
    assert got == {(1, 10): "b", (1, 5): "a", (2, 7): "d", (3, 1): None}


def test_range_join(spark):
    from graph_db_spark.operators.temporal import range_join

    points = spark.createDataFrame([(1, 15), (2, 50), (3, 99)], "pid LONG, x LONG")
    ranges = spark.createDataFrame(
        [(10, 10, 20), (20, 40, 60), (30, 95, 97)], "rid LONG, lo LONG, hi LONG"
    )
    out = range_join(points, ranges, "x", "lo", "hi", bucket_width=16)
    got = sorted((r["pid"], r["rid"]) for r in out.collect())
    assert got == [(1, 10), (2, 20)]


def test_multimodal_features_and_frames(spark):
    from graph_db_spark.operators.multimodal import (
        extract_features,
        frame_sample,
        synthetic_assets,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 200), (3, "audio blob")], "doc_id LONG, text STRING"
    )
    assets = synthetic_assets(docs, "doc_id", "text")
    feats = extract_features(assets).collect()
    assert len(feats) == 3
    by_id = {r["asset_id"]: r for r in feats}
    # media_type partition: 1→audio, 2→video, 3→image (id % 3 → 1,2,0)
    assert by_id[3]["width"] is not None and by_id[3]["duration_ms"] is None
    assert by_id[1]["duration_ms"] is not None and by_id[1]["width"] is None
    assert by_id[2]["n_bytes"] == 200
    # determinism
    feats2 = {r["asset_id"]: r["digest"] for r in extract_features(assets).collect()}
    assert feats2 == {r["asset_id"]: r["digest"] for r in feats}

    frames = frame_sample(assets, every_n_bytes=64, max_frames=8).collect()
    per_asset = {}
    for r in frames:
        per_asset.setdefault(r["asset_id"], []).append(r["frame_no"])
    assert len(per_asset[2]) == 4  # 200 bytes / 64 → 3 full + remainder → 4
    assert len(per_asset[1]) == 1


def test_real_decoder_registry(spark):
    """The 'real' slot self-upgrades PER MODALITY at import: audio and
    image always have at least their stdlib floors (WAV header / image
    container headers), so 'real' is always the dispatcher; PIL and
    soundfile override their floors when importable, video upgrades only
    when ffprobe is present, and unregistered modalities degrade to the
    digest row."""
    from graph_db_spark.operators.multimodal import (
        DECODERS,
        TYPE_DECODERS,
        _image_stdlib_decode,
        _pil_decode,
        _real_decode,
        _soundfile_decode,
        _wav_stdlib_decode,
    )

    # the stdlib floors guarantee real audio AND image paths everywhere
    assert "wav" in DECODERS and "audio" in TYPE_DECODERS
    assert "imghdr" in DECODERS and "image" in TYPE_DECODERS
    assert DECODERS["real"] is not _real_decode
    assert ("video" in TYPE_DECODERS) == ("ffmpeg" in DECODERS)
    # the richer library overrides its floor when importable
    if "soundfile" in DECODERS:
        assert TYPE_DECODERS["audio"] is _soundfile_decode
    else:
        assert TYPE_DECODERS["audio"] is _wav_stdlib_decode
    if "pil" in DECODERS:
        assert TYPE_DECODERS["image"] is _pil_decode
    else:
        assert TYPE_DECODERS["image"] is _image_stdlib_decode


def test_real_decoder_dispatch_contract():
    """The dispatcher plumbing itself, independent of which libraries the
    sandbox has: registered modalities route to their decoder, everything
    else gets the digest-only fallback row."""
    from graph_db_spark.operators.multimodal import _compose_real_decoder

    calls = []

    def img(mt, payload):
        calls.append(("img", mt))
        return {"digest": "d", "width": 3, "height": 4, "duration_ms": None}

    real = _compose_real_decoder({"image": img})
    assert real("image", b"xx")["width"] == 3
    out = real("audio", b"xx")  # unregistered modality: digest fallback
    assert out["width"] is None and out["duration_ms"] is None and out["digest"]
    assert calls == [("img", "image")]


def test_audio_decode_real_wav(spark):
    """Real audio decode reports the true duration through the registry —
    UNCONDITIONAL: the fixture is written with the stdlib ``wave`` module
    and the stdlib WAV floor decoder guarantees an audio path even
    without soundfile (which, when present, reads the same PCM WAV)."""
    import io
    import wave

    from graph_db_spark.operators.multimodal import DECODERS

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 8000)  # 8000 frames @ 16 kHz = 500 ms
    wav = buf.getvalue()
    out = DECODERS["real"]("audio", wav)
    assert out["duration_ms"] == 500
    # non-WAV bytes degrade to the digest-only row, never an exception
    junk = DECODERS["wav"]("audio", b"\x00\x01junk")
    assert junk["duration_ms"] is None and junk["digest"]


def test_image_decode_real_headers(spark):
    """Real image decode reports true dimensions through the registry —
    UNCONDITIONAL: the fixtures are byte-built PNG/GIF/BMP/JPEG headers
    and the stdlib image floor parses container headers without PIL
    (which, when present, reads the same formats and must agree)."""
    import struct
    import zlib

    from graph_db_spark.operators.multimodal import (
        DECODERS,
        _image_stdlib_decode,
        extract_features,
    )

    def png(w, h):
        ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        raw = b"\x00" + b"\x00\x00\x00" * w  # one filter byte + RGB row
        idat = zlib.compress(raw * h)
        out = b"\x89PNG\r\n\x1a\n"
        for tag, body in ((b"IHDR", ihdr), (b"IDAT", idat), (b"IEND", b"")):
            out += struct.pack(">I", len(body)) + tag + body
            out += struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        return out

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00\x3b"

    def bmp(w, h):
        row = (w * 3 + 3) & ~3
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 0, 0, 0, 0)
        return (
            b"BM"
            + struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
            + info
            + b"\x00" * (row * h)
        )

    def jpeg(w, h):
        sof0 = struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00"
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
            + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
            + b"\xff\xd9"
        )

    fixtures = {
        "png": (png(320, 200), 320, 200),
        "gif": (gif(17, 11), 17, 11),
        "bmp": (bmp(33, 21), 33, 21),
        "jpeg": (jpeg(640, 480), 640, 480),
    }
    for name, (payload, w, h) in fixtures.items():
        out = DECODERS["real"]("image", payload)
        assert (out["width"], out["height"]) == (w, h), name
        floor = _image_stdlib_decode("image", payload)
        assert (floor["width"], floor["height"]) == (w, h), name
    # junk bytes degrade to the digest-only row, never an exception
    junk = _image_stdlib_decode("image", b"\x00\x01junk")
    assert junk["width"] is None and junk["digest"]
    # and the mapInPandas plumbing carries the real dims end-to-end
    assets = spark.createDataFrame(
        [(1, "image", bytearray(fixtures["png"][0]), {"src": "test"})],
        "asset_id LONG, media_type STRING, payload BINARY, meta MAP<STRING,STRING>",
    )
    feat = extract_features(assets, decoder="imghdr").collect()[0]
    assert (feat["width"], feat["height"]) == (320, 200)


def test_ffprobe_decode_real_video(spark):
    """Conditional (skips without ffmpeg/ffprobe): real video probe
    reports dims + duration through the registry."""
    import shutil as _sh
    import subprocess
    import tempfile

    if not (_sh.which("ffprobe") and _sh.which("ffmpeg")):
        pytest.skip("ffmpeg/ffprobe not on PATH")
    from graph_db_spark.operators.multimodal import DECODERS

    with tempfile.NamedTemporaryFile(suffix=".mp4") as f:
        subprocess.run(
            ["ffmpeg", "-y", "-v", "error", "-f", "lavfi", "-i",
             "testsrc=duration=1:size=64x48:rate=10", f.name],
            check=True, capture_output=True, timeout=120,
        )
        payload = open(f.name, "rb").read()
    out = DECODERS["real"]("video", payload)
    assert (out["width"], out["height"]) == (64, 48)
    assert out["duration_ms"] and 800 <= out["duration_ms"] <= 1500


def test_pil_decode_and_resize_real_images(spark):
    """Conditional (skips without PIL): real decode reports true image
    dims and real resize round-trips through the same mapInPandas
    contract as the fake path."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from graph_db_spark.operators.multimodal import extract_features, resize_images

    buf = io.BytesIO()
    Image.new("RGB", (320, 200)).save(buf, format="PNG")
    png = buf.getvalue()
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png), {"src": "test"})],
        "asset_id LONG, media_type STRING, payload BINARY, meta MAP<STRING,STRING>",
    )
    feat = extract_features(assets, decoder="real").collect()[0]
    assert (feat["width"], feat["height"]) == (320, 200)
    out = resize_images(assets, width=64, height=48, decoder="real").collect()[0]
    with Image.open(io.BytesIO(bytes(out["payload"]))) as im:
        assert im.size == (64, 48)


def test_stream_tumbling_counts(spark, sf_dir):
    from graph_db_spark.streaming import stream_tumbling_counts

    agg = stream_tumbling_counts(spark, f"{sf_dir}/events.parquet")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(n_events) AS n FROM tumbling_out").collect()[0]["n"]
        total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert got == total
    finally:
        q.stop()


def test_stream_apply_wal(spark, tmp_path, sf_dir):
    """The WAL directory written by batch commits drives a streaming
    apply to the same final state (Persistent.hs's async loop)."""
    from graph_db_spark.catalogue import catalogue_schema
    from graph_db_spark.graph import GraphSnapshot
    from graph_db_spark.model import ROOT_ID
    from graph_db_spark.storage import EventLogStorage
    from graph_db_spark.streaming import stream_apply_wal
    from graph_db_spark.streaming.apply import StreamingGraphState

    store = EventLogStorage(spark, str(tmp_path / "store"), catalogue_schema())
    s = store.load(lambda sp, sc: GraphSnapshot.empty(sp, sc))
    for i in range(2):
        s.write(
            lambda tx, i=i: tx.add_target(
                ROOT_ID, tx.new_node("Artist", name=f"S{i}", uid=i)
            )
        )

    store.flush()  # WAL appends are buffered; barrier before external readers

    state = StreamingGraphState(GraphSnapshot.empty(spark, catalogue_schema()))
    q = stream_apply_wal(
        spark, store._log_dir(0), state, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert state.snapshot.get_stats().as_tuple() == s.read(lambda g: g.get_stats()).as_tuple()
    assert state.batches_applied >= 1


def test_shortest_paths_weighted(spark):
    from graph_db_spark.pregel import shortest_paths

    # Diamond with a cheaper 2-hop path: 0->1->3 (1+1=2) beats 0->3 (5).
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 3, 1.0), (0, 3, 5.0), (3, 4, 2.0), (7, 8, 1.0)],
        "src LONG, dst LONG, weight DOUBLE",
    )
    src = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["dist"] for r in shortest_paths(edges, src).collect()}
    assert got == {0: 0.0, 1: 1.0, 3: 2.0, 4: 4.0}  # 7/8 unreachable


def test_pagerank_matches_numpy(spark):
    import numpy as np

    from graph_db_spark.pregel import pagerank

    edges_py = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 2)]
    verts = spark.createDataFrame([(i,) for i in range(4)], "id LONG")
    edges = spark.createDataFrame(edges_py, "src LONG, dst LONG")
    got = {r["id"]: r["rank"] for r in pagerank(verts, edges, n_iters=8).collect()}

    deg = {0: 1, 1: 1, 2: 2, 3: 1}
    ranks = np.ones(4)
    for _ in range(8):
        new = np.full(4, 0.15)
        for s, d in edges_py:
            new[d] += 0.85 * ranks[s] / deg[s]
        ranks = new
    for i in range(4):
        assert abs(got[i] - ranks[i]) < 1e-9, (i, got[i], ranks[i])


def test_stateful_user_sessions(spark, tmp_path):
    """applyInPandasWithState sessionizer: two users, sessions flushed by
    event-time timeout once the watermark passes (forced by a late marker
    event far in the future)."""
    import pandas as pd

    from graph_db_spark.streaming.stateful import stateful_user_sessions

    src_dir = tmp_path / "ev"
    src_dir.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")
    kw = dict(coerce_timestamps="us", allow_truncated_timestamps=True)
    pd.DataFrame(
        [
            (1, base, 10.0),
            (1, base + pd.Timedelta(minutes=5), 2.5),
            (2, base + pd.Timedelta(minutes=1), 1.0),
        ],
        columns=["user_id", "ts", "value"],
    ).to_parquet(src_dir / "b0.parquet", **kw)
    # watermark driver in a second file/micro-batch: far-future event keeps
    # user 99's session open while pushing the watermark past 1/2's timeouts
    pd.DataFrame(
        [(99, base + pd.Timedelta(hours=12), 0.0)], columns=["user_id", "ts", "value"]
    ).to_parquet(src_dir / "b1.parquet", **kw)

    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    out = stateful_user_sessions(stream, watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from sess_out").collect()
    }
    assert got.get(1) == (2, 12.5)
    assert got.get(2) == (1, 1.0)
    assert 99 not in got  # still open: nothing past its timeout


def test_approx_aggregates_tolerance(spark, sf_dir):
    """approx_count_distinct / approx percentile vs exact — not oracle-
    hashable (sketch internals differ per engine), so bounded-error checked
    here instead."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select(F.countDistinct("l_orderkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_orderkey", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.06
    med_exact = li.approxQuantile("l_quantity", [0.5], 0.0)[0]
    med_approx = li.approxQuantile("l_quantity", [0.5], 0.01)[0]
    assert abs(med_approx - med_exact) <= max(1.0, 0.05 * med_exact)


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """Both ANN scale paths must recover a meaningful share of the exact
    top-5 (deterministic pipelines → exact recall values: LSH 0.52, IVF
    0.92 on the sf0.001 fixture; assert with slack so fixture regeneration
    with another seed doesn't flake)."""
    from graph_db_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, 5).collect()}
    lsh = {(r.qid, r.nid) for r in lsh_cosine_topk(emb, q, 5).collect()}
    ivf = {(r.qid, r.nid) for r in ivf_cosine_topk(emb, q, 5).collect()}
    assert len(lsh & exact) / len(exact) >= 0.3
    assert len(ivf & exact) / len(exact) >= 0.6


@pytest.mark.slow
def test_ann_recall_regression_sf01(spark):
    """Recall-regression guard at the BENCH scale (sf0.1, 2,000 dim-64
    vectors): pins minimum recall vs the brute-force baseline for the two
    LSH retrieval paths the bench times (`ann_lsh_topk`,
    `embedding_near_dup_pairs`), so a future n_tables/n_planes tweak can't
    silently degrade retrieval while still benching fast.

    Measured (deterministic md5 planes, round-5): LSH top-k 0.80, IVF
    0.86, planted near-dup 1.000 (2,000/2,000 pairs; the
    ((1-(1-θ/π)^p))^t miss bound at cos ≥ 0.99 is < 1e-6). The ASSERTED
    floors are 0.70 (LSH) and 0.75 (IVF): the slack below the measured
    values covers fixture regeneration with a different seed — a
    parameter degradation (fewer tables/planes, broken signature) drops
    recall far below either floor."""
    import os

    from graph_db_spark.operators.similarity import (
        cosine_topk,
        exact_near_dup_pairs,
        ivf_cosine_topk,
        lsh_cosine_topk,
        lsh_near_dup_pairs,
    )

    bench_sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    path = f"{bench_sf_dir}/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip(f"bench-scale fixture missing: {path}")
    emb = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 20)
    exact = {(r.qid, r.nid) for r in cosine_topk(emb, q, 5).collect()}
    lsh = {
        (r.qid, r.nid)
        for r in lsh_cosine_topk(emb, q, 5, n_planes=4, n_tables=8).collect()
    }
    ivf = {(r.qid, r.nid) for r in ivf_cosine_topk(emb, q, 5).collect()}
    assert len(lsh & exact) / len(exact) >= 0.7, "ann_lsh_topk recall regressed"
    assert len(ivf & exact) / len(exact) >= 0.75, "ann_ivf_topk recall regressed"

    # embedding_near_dup_pairs shape: plant a perturbed copy of every
    # vector (cos ≈ 0.998 to its original) and require LSH-bucketed
    # candidate generation to recover essentially all true pairs.
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = e.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x
            + F.lit(0.005) * (((d * 31 + F.col("vec_id")) % 5) - 2).cast("double"),
        ).alias("embedding"),
    )
    allv = e.unionByName(pert)
    got = {(r.a, r.b) for r in lsh_near_dup_pairs(allv, threshold=0.99).collect()}
    want = {(r.a, r.b) for r in exact_near_dup_pairs(allv, threshold=0.99).collect()}
    assert want, "fixture produced no true near-dup pairs"
    assert len(got & want) / len(want) >= 0.995, "near-dup LSH recall regressed"
    assert got <= want  # precision 1.0: exact cosine verifies every candidate


def test_stream_curated_ingest_matches_batch(spark, sf_dir, tmp_path):
    """The composed streaming curation (quality gate -> language gate ->
    near-dup suppression) admits exactly the batch-computed signature
    set: planted signature-identical copies collapse, sub-threshold and
    wrong-language docs never enter dedup state."""
    from graph_db_spark.operators.dedup import row_minhash_signature
    from graph_db_spark.operators.text import langid_struct, quality_expr
    from graph_db_spark.streaming.apply import stream_curated_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60).cache()
    src = str(tmp_path / "curated_stream")
    docs.write.parquet(src)
    docs.withColumn("doc_id", F.col("doc_id") + 10000).write.mode("append").parquet(src)

    out = stream_curated_ingest(spark, src, min_quality=0.5, lang="en")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("curated_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sig, quality, pred_lang FROM curated_out").collect()
    finally:
        q.stop()

    batch = (
        docs.withColumn("quality", quality_expr(F.col("text")))
        .withColumn("pred_lang", langid_struct(F.col("text"))["lang"])
        .filter((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .withColumn(
            "sig",
            F.coalesce(
                row_minhash_signature(F.col("text"), 8, 3),
                F.concat(F.lit("__nosig__"), F.col("doc_id").cast("string")),
            ),
        )
        .select("sig")
        .distinct()
        .collect()
    )
    want_sigs = {r["sig"] for r in batch}
    assert want_sigs, "filter admitted nothing — fixture drifted"
    got_sigs = {r["sig"] for r in got}
    # nosig fallback keys differ per copy (doc-unique) — compare real sigs
    # exactly, and fallback-key count separately
    real = {s for s in want_sigs if not s.startswith("__nosig__")}
    got_real = {s for s in got_sigs if not s.startswith("__nosig__")}
    assert got_real == real
    assert len(got) == len(got_sigs)  # one survivor per key
    assert all(r["quality"] >= 0.5 and r["pred_lang"] == "en" for r in got)
    docs.unpersist()


def test_bpe_merge_fold_property(spark):
    """Property: the SQL fold (merge_pair) implements exactly the
    left-to-right non-overlapping merge a pure-Python reference does —
    exercised over adversarial alphabets ('a','b','ab' as symbols, rules
    like (a,a) on runs) where overlap handling differs between naive
    implementations."""
    import itertools

    from graph_db_spark.operators.bpe import merge_pair

    def py_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    alphabet = ["a", "b", "ab"]
    cases = [list(t) for n in range(0, 5) for t in itertools.product(alphabet, repeat=n)]
    rules = [("a", "a"), ("a", "b"), ("b", "a"), ("ab", "a"), ("a", "ab")]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i LONG, syms ARRAY<STRING>")
    for a, b in rules:
        got = {
            r["i"]: r["m"]
            for r in df.select("i", merge_pair(F.col("syms"), a, b).alias("m")).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == py_merge(c, a, b), (c, a, b, got[i])


def test_kmeans_fit_monotone_sse(spark, sf_dir):
    """Lloyd's iterations never increase within-cluster SSE, and the fit
    is deterministic (decimal-exact means): two runs yield identical
    centroids."""
    from graph_db_spark.operators.similarity import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()

    def sse(cent):
        v = emb.select(
            F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        c = cent.select(F.col("embedding").alias("c"))
        d = F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            v.crossJoin(F.broadcast(c))
            .select(d.alias("d"), F.col("v"))
            .groupBy("v")
            .agg(F.min("d").alias("dmin"))
            .agg(F.sum("dmin").alias("s"))
            .collect()[0]["s"]
        )

    c0 = emb.filter(F.col("vec_id") < 8).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    c1 = kmeans_fit(emb, k=8, n_iters=1)
    c2 = kmeans_fit(emb, k=8, n_iters=2)
    s0, s1, s2 = sse(c0), sse(c1), sse(c2)
    assert s1 <= s0 and s2 <= s1
    again = {r["vec_id"]: r["embedding"] for r in kmeans_fit(emb, k=8, n_iters=2).collect()}
    first = {r["vec_id"]: r["embedding"] for r in c2.collect()}
    assert again == first
    emb.unpersist()


def test_bpe_fit_and_encode_paths_agree(spark, sf_dir):
    """(1) fit_bpe learns the classic merges on the textbook corpus.
    (2) The Arrow-batched UDF encoder produces EXACTLY the expression-path
    (chained-fold) segmentation on fixture docs under the learned rules —
    the rank-order-equivalence claim, tested. (3) Tokens round-trip: the
    concatenation of a word's tokens is the word."""
    from graph_db_spark.operators.bpe import bpe_encode, bpe_encode_expr, fit_bpe

    toy = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest")], "doc_id LONG, text STRING"
    )
    merges = fit_bpe(toy, n_merges=4)
    # 'lo' (7 weighted), then 'low' (7), then ties resolve
    # deterministically on the pair itself
    assert merges[0] == ("l", "o") and merges[1] == ("lo", "w")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40).cache()
    rules = fit_bpe(docs, n_merges=12)
    assert len(rules) == 12
    expr_out = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id", bpe_encode_expr(F.col("text"), rules).alias("e")
        ).collect()
    }
    udf_out = {
        r["id"]: r["tokens"] for r in bpe_encode(docs, rules).collect()
    }
    assert set(expr_out) == set(udf_out)
    for did, enc in expr_out.items():
        flat_expr = [t for w in enc.split(" ") for t in w.split("_") if w]
        assert flat_expr == udf_out[did], f"doc {did} segmentation diverged"
    # round-trip: joining each word's tokens restores the word
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, enc in expr_out.items():
        rebuilt = [w.replace("_", "") for w in enc.split(" ") if w]
        assert rebuilt == texts[did].lower().split()
    docs.unpersist()


def test_bpe_fit_local_and_distributed_paths_equal(spark, sf_dir):
    """The threshold-switched fit: the driver-local merge loop (vocab
    under FIT_LOCAL_MAX_WORDS → one Spark job total) must learn EXACTLY
    the merges of the distributed per-merge loop, at a depth (64) where
    any tie-break or merge-fold divergence would compound and surface."""
    from graph_db_spark.operators.bpe import fit_bpe

    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60).cache()
    # default: local path (small vocab)
    local, jobs_local = count_jobs("bpe-local", lambda: fit_bpe(docs, n_merges=64))
    # forced distributed
    dist, jobs_dist = count_jobs(
        "bpe-dist", lambda: fit_bpe(docs, n_merges=64, local_max_words=0)
    )
    assert local == dist
    assert len(local) == 64
    # the whole point: local fit amortizes n_merges jobs into one —
    # assert the MECHANISM (Spark job count), not wall-clock, which is
    # flaky under co-tenant load.
    assert jobs_local < jobs_dist
    # word-count pull + cache fill + AQE sub-jobs: a handful, not one per
    # merge.
    assert jobs_local <= 8
    docs.unpersist()


def test_stream_dedup_near_and_rowlocal_signature(spark, sf_dir, tmp_path):
    """(1) The row-local higher-order-function MinHash signature is
    bit-identical to the batch groupBy form (MIN is duplicate-insensitive,
    so folding per row over the shingle array = aggregating over exploded
    shingles). (2) The streaming near-dup suppressor keeps exactly one doc
    per signature: planted signature-identical copies are dropped within
    the watermark, while short (no-shingle) docs pass through."""
    from graph_db_spark.operators.dedup import (
        minhash_signatures,
        row_minhash_signature,
        shingles,
    )
    from graph_db_spark.streaming.apply import stream_dedup_near

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50).cache()
    n_docs = docs.count()
    batch = minhash_signatures(shingles(docs, "doc_id", "text", 3), 8)
    packed_batch = {
        r["id"]: "|".join(r[f"h{i}"] for i in range(8)) for r in batch.collect()
    }
    rowlocal = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", row_minhash_signature(F.col("text"), 8, 3).alias("sig")
        ).collect()
        if r["sig"] is not None
    }
    assert rowlocal == packed_batch

    # short (<3-token) docs emit no shingles -> sig must be NULL, never a
    # shared sentinel (a sentinel would collapse ALL distinct short docs
    # into one survivor — the round-5 review's confirmed bug)
    shorts = spark.createDataFrame(
        [(9001, "hi", "en", "srcx", 2), (9002, "ok", "en", "srcx", 2)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    assert [
        r["s"]
        for r in shorts.select(row_minhash_signature(F.col("text"), 8, 3).alias("s")).collect()
    ] == [None, None]

    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    # copies: same text => same signature; ts offset +10000s stays inside
    # the 6h watermark, so the suppressor must drop every copy
    docs.withColumn("doc_id", F.col("doc_id") + 10000).write.mode("append").parquet(src)
    shorts.write.mode("append").parquet(src)
    out = stream_dedup_near(spark, src, watermark="6 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) AS n FROM neardup_out").collect()[0]["n"]
    finally:
        q.stop()
    # distinct signature VALUES: the fixture itself contains near-dup
    # docs whose 8 minima all agree, which collapse too
    n_sig = len(set(packed_batch.values()))
    n_short = n_docs - len(packed_batch)  # no-shingle docs are never suppressed
    # + 2: the planted short docs BOTH survive (doc-unique fallback keys)
    assert n == n_sig + 2 * n_short + 2
    docs.unpersist()


def test_stream_sliding_counts(spark, sf_dir):
    from graph_db_spark.streaming.apply import stream_sliding_counts

    agg = stream_sliding_counts(spark, f"{sf_dir}/events.parquet")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(n_events) AS n FROM sliding_out").collect()[0]["n"]
        total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert got == 4 * total  # 1h window / 15m slide → every event in 4 windows
    finally:
        q.stop()


def test_resize_images_plumbing(spark):
    import pytest as _pytest

    from graph_db_spark.operators.multimodal import resize_images, synthetic_assets

    docs = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(9)], "doc_id LONG, text STRING"
    )
    assets = synthetic_assets(docs, "doc_id", "text")
    out = resize_images(assets, width=128, height=96).collect()
    # ids ≡ 0 mod 3 are images (id % 3 = 0 → element 1 = 'image')
    assert {r["asset_id"] for r in out} == {0, 3, 6}
    assert all(r["width"] == 128 and r["height"] == 96 for r in out)
    assert all(r["payload"].endswith(b"|resized:128x96") for r in out)
    del _pytest
    # real path on NON-image payloads (these are utf-8 text bytes): every
    # codec refuses, so rows degrade to NULL payload with the original
    # digest — never an exception (round-12 item 7: the former
    # plan-time NotImplementedError is gone; the PNG floor always
    # registers a real resize route)
    real = resize_images(assets, decoder="real").collect()
    assert {r["asset_id"] for r in real} == {0, 3, 6}
    try:
        import PIL  # noqa: F401
    except ImportError:
        by_id = {r["asset_id"]: r for r in real}
        for i in (0, 3, 6):
            # degraded row: NULL payload AND NULL digest — digest always
            # describes the payload column (round-13 advice), so the
            # md5(payload) == digest verification contract never breaks
            assert by_id[i]["payload"] is None
            assert by_id[i]["digest"] is None


def test_png_stdlib_resize_roundtrip(spark):
    """UNCONDITIONAL stdlib image pixel path (round-12 verdict item 7,
    closing the PIL-shaped gap the WAV/header floors left): a byte-built
    baseline PNG decodes to pixels, resizes nearest-neighbor, re-encodes
    to a conforming PNG, and the mapInPandas real route carries it
    end-to-end — no PIL anywhere (the fixture is hand-assembled with
    struct + zlib). Filters 1-4 are exercised via a second fixture whose
    scanlines are sub/up/average/paeth-filtered."""
    import struct
    import zlib

    from graph_db_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode_pixels,
        _png_resize_stdlib,
        resize_images,
    )

    # 4x2 RGB gradient: pixel (x, y) = (10x, 10y, 100+x+y)
    w, h = 4, 2
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes((10 * x, 10 * y, 100 + x + y))
    payload = _png_encode_pixels(w, h, 3, px)
    dw, dh, dch, dpx = _png_decode_pixels(payload)
    assert (dw, dh, dch) == (4, 2, 3) and dpx == px

    # filtered fixture: same pixels, scanline 0 sub-filtered, 1 paeth
    def flt(line, prev, mode, ch=3):
        out = bytearray([mode])
        for x in range(len(line)):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if mode == 1:
                out.append((line[x] - a) & 0xFF)
            elif mode == 4:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out.append((line[x] - pr) & 0xFF)
        return out

    row0, row1 = px[: w * 3], px[w * 3 :]
    raw = bytes(flt(row0, bytearray(w * 3), 1)) + bytes(flt(row1, row0, 4))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    fixture = b"\x89PNG\r\n\x1a\n"
    for tag, body in ((b"IHDR", ihdr), (b"IDAT", zlib.compress(raw)), (b"IEND", b"")):
        fixture += struct.pack(">I", len(body)) + tag + body
        fixture += struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    assert _png_decode_pixels(fixture)[3] == px

    # nearest resize doubles each pixel: output (x, y) samples (x//2, y//2)
    up = _png_resize_stdlib(payload, 8, 4)
    uw, uh, uch, upx = _png_decode_pixels(up)
    assert (uw, uh, uch) == (8, 4, 3)
    for y in range(4):
        for x in range(8):
            s = ((y // 2) * w + (x // 2)) * 3
            d = (y * 8 + x) * 3
            assert upx[d : d + 3] == px[s : s + 3], (x, y)

    # end-to-end through the Spark real route (PIL may override the floor;
    # either codec must deliver the target dims and a decodable payload)
    assets = spark.createDataFrame(
        [(7, "image", bytearray(payload), {"src": "t"})],
        "asset_id LONG, media_type STRING, payload BINARY, meta MAP<STRING,STRING>",
    )
    out = resize_images(assets, width=8, height=4, decoder="real").collect()[0]
    assert (out["width"], out["height"]) == (8, 4)
    assert out["payload"] is not None
    got = _png_decode_pixels(bytes(out["payload"]))
    assert got is not None and (got[0], got[1]) == (8, 4)


def test_png_decode_bomb_guards():
    """Dirty-corpus guards (round-13 advice): a forged IHDR declaring
    absurd dimensions and a decompression bomb (tiny IDAT inflating past
    the IHDR-derived raw size) both degrade to None — never a giant
    allocation — while a conforming payload still decodes."""
    import struct
    import zlib

    from graph_db_spark.operators.multimodal import (
        _png_decode_pixels,
        _png_encode_pixels,
    )

    def pack(w, h, raw):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n"
        for tag, body in ((b"IHDR", ihdr), (b"IDAT", zlib.compress(raw)), (b"IEND", b"")):
            out += struct.pack(">I", len(body)) + tag + body
            out += struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        return out

    # forged dimensions: 60000×60000 RGB declares ~10.8 GB of raw bytes;
    # the 43-byte IDAT must be refused BEFORE any inflate/allocate
    assert _png_decode_pixels(pack(60_000, 60_000, b"\x00" * 16)) is None

    # bomb: IHDR says 2×1 (7 raw bytes) but the IDAT inflates to 50 MB —
    # the capped inflate stops at the expected size and refuses the tail
    assert _png_decode_pixels(pack(2, 1, b"\x00" * (50 << 20))) is None

    # conforming control: still decodes after both guards
    good = _png_encode_pixels(2, 1, 3, bytes(range(6)))
    assert _png_decode_pixels(good) == (2, 1, 3, bytearray(range(6)))


def test_stream_session_windows(spark, sf_dir):
    from graph_db_spark.streaming import stream_session_windows

    agg = stream_session_windows(spark, f"{sf_dir}/events.parquet", gap="30 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions_out").collect()
        total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert sum(r["n_events"] for r in rows) == total
        # every session window is at least one gap long in span terms:
        # end - start >= 30min is NOT required (single-event sessions close
        # at ts+gap), but end > start always holds
        assert all(r["w"]["end"] > r["w"]["start"] for r in rows)
    finally:
        q.stop()


def test_connected_components_star_matches_naive(spark):
    """Large-star/small-star CC == min-label propagation on a mixed graph
    (two blobs + chain + singletons)."""
    from graph_db_spark.pregel import connected_components, connected_components_star

    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12)] + [
        (100 + i, 101 + i) for i in range(40)  # 41-node chain
    ]
    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    v = spark.createDataFrame(
        [(i,) for i in {x for p in edges for x in p} | {999}], "id LONG"
    )
    naive = {r["id"]: r["component"] for r in connected_components(v, e).collect()}
    star_df, rounds = connected_components_star(v, e)
    star = {r["id"]: r["component"] for r in star_df.collect()}
    assert star == naive
    assert star[999] == 999  # singleton keeps own id
    assert rounds < 15  # 41-diameter chain must NOT take ~41 rounds


def test_connected_components_star_high_diameter(spark):
    """The point of the star variant: a 512-node chain converges in
    O(log² n) rounds, not O(diameter) — checked against a driver-side
    union-find ground truth."""
    from graph_db_spark.pregel import connected_components_star

    n = 512
    edges = [(i, i + 1) for i in range(n - 1)] + [(2000, 2001)]
    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    v = spark.createDataFrame([(i,) for i in range(n)] + [(2000,), (2001,)], "id LONG")
    labels_df, rounds = connected_components_star(v, e)
    labels = {r["id"]: r["component"] for r in labels_df.collect()}
    assert all(labels[i] == 0 for i in range(n))
    assert labels[2000] == 2000 and labels[2001] == 2000
    assert rounds <= 12, f"star CC took {rounds} rounds on a 512-chain"


def test_pca_power_scores_finds_dominant_direction(spark):
    """Matrix-free power iteration on a corpus whose variance is
    concentrated along an off-axis direction: the pc1 scores must carry
    (far) more variance than the projection on the init axis e₀, scores
    must be centered (mean ≈ 0 — projections of centered data), and the
    result is deterministic across reruns."""
    import statistics

    from graph_db_spark.operators.similarity import pca_power_scores

    # dominant direction ~ (1, 2, -1, 0)/√6 with large spread; tiny
    # independent noise on the other axes
    rows = []
    for i in range(60):
        t = (i - 30) * 1.0  # spread along the planted direction
        eps = ((i * 7) % 5 - 2) * 0.01
        rows.append((i, [t + eps, 2 * t - eps, -t + 2 * eps, eps]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    got = {r["id"]: r["pc1"] for r in pca_power_scores(df).collect()}
    assert len(got) == 60
    again = {r["id"]: r["pc1"] for r in pca_power_scores(df).collect()}
    assert got == again  # deterministic

    mean_pc1 = statistics.mean(got.values())
    assert abs(mean_pc1) < 1e-6  # centered projections
    var_pc1 = statistics.pvariance(got.values())
    xs0 = [r[1][0] - statistics.mean(v[0] for _, v in rows) for r in rows]
    var_e0 = statistics.pvariance(xs0)
    # pc1 must capture (roughly) the full planted variance 6·var(t),
    # versus var(t) along e₀ alone
    assert var_pc1 > 4 * var_e0


def test_dedup_duplicate_clusters_canonicalization(spark):
    """Verified near-dup pairs → connected components → canonical group
    ids: a planted 3-copy chain collapses into ONE cluster labelled by
    its min doc_id with exactly one canonical member; unrelated docs are
    singleton clusters of themselves; a short (shingle-less) doc never
    joins anything."""
    from graph_db_spark.operators.dedup import minhash_near_dup_pairs
    from graph_db_spark.pregel import connected_components_star

    base = " ".join(f"tok{i}" for i in range(40))
    drift1 = base.replace("tok5", "DRIFT")  # near-dup of base
    drift2 = drift1.replace("tok35", "MORE")  # near-dup of drift1 (chain)
    other = " ".join(f"zzz{i}" for i in range(40))
    rows = [(10, base), (11, drift1), (12, drift2), (20, other), (30, "hi")]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    pairs = minhash_near_dup_pairs(d, "doc_id", "text", n_hashes=8, bands=4,
                                   threshold=0.7, shingle=3)
    labels, _ = connected_components_star(
        d.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
    )
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got[10] == got[11] == got[12] == 10  # one cluster, min-id label
    assert got[20] == 20 and got[30] == 30  # singletons stay canonical
    canon = [i for i in (10, 11, 12) if got[i] == i]
    assert canon == [10]  # exactly one canonical member per cluster


def test_asof_join_grouped_tolerance(spark):
    """merge_asof fallback: tolerance + direction semantics the window
    trick can't express; matches asof_join where semantics overlap."""
    from graph_db_spark.operators.temporal import asof_join, asof_join_grouped

    left = spark.createDataFrame([(1, 10), (1, 5), (2, 7), (3, 1)], "k LONG, t LONG")
    right = spark.createDataFrame(
        [(1, 4, "a"), (1, 9, "b"), (1, 11, "c"), (2, 7, "d")], "k LONG, ts LONG, v STRING"
    )
    # no tolerance → same as the window-trick asof_join
    base = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join(left, right, "k", "t", "ts", ["v"]).collect()
    }
    got = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join_grouped(left, right, "k", "t", "ts", ["v"]).collect()
    }
    assert got == base == {(1, 10): "b", (1, 5): "a", (2, 7): "d", (3, 1): None}
    # tolerance=1: (1,5) is 1 past ts=4 → kept; (1,10) is 1 past ts=9 → kept;
    # tolerance=0: only exact-timestamp matches survive
    tol0 = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join_grouped(left, right, "k", "t", "ts", ["v"], tolerance=0).collect()
    }
    assert tol0 == {(1, 10): None, (1, 5): None, (2, 7): "d", (3, 1): None}
    # forward direction: next right at-or-after
    fwd = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join_grouped(
            left, right, "k", "t", "ts", ["v"], direction="forward"
        ).collect()
    }
    assert fwd == {(1, 10): "c", (1, 5): "b", (2, 7): "d", (3, 1): None}


def test_stream_dedup_exact(spark, tmp_path, sf_dir):
    """Duplicate events injected into the stream collapse to one row per
    event_id; count matches the batch distinct."""
    import os
    import shutil

    from graph_db_spark.streaming.apply import stream_dedup_exact

    src = str(tmp_path / "dup_events")
    os.makedirs(src)
    # the same events file under two names: every event_id arrives twice
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events_dup.parquet")

    ded = stream_dedup_exact(spark, src)
    q = (
        ded.writeStream.format("memory")
        .outputMode("append")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(DISTINCT event_id) AS n, count(*) AS total FROM dedup_out").collect()[0]
        n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert got["total"] == got["n"] == n_batch
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path, sf_dir):
    """Stream-stream click->error interval join produces exactly the
    batch interval-join result on the same data."""
    from graph_db_spark.streaming.apply import stream_click_error_join

    q = (
        stream_click_error_join(spark, f"{sf_dir}/events.parquet")
        .writeStream.format("memory")
        .outputMode("append")
        .queryName("ss_join_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM ss_join_out").collect()[0]["n"]
    finally:
        q.stop()

    # nanosAsLong is pinned session-wide by get_spark (session.py)
    ev = (
        spark.read.schema(
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
        )
        .parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    )
    c = ev.filter("event_type = 'click'").selectExpr("user_id AS u", "ts AS cts")
    e = ev.filter("event_type = 'error'").selectExpr("user_id AS v", "ts AS ets")
    expected = c.join(
        e,
        (c.u == e.v)
        & (e.ets >= c.cts)
        & (e.ets <= c.cts + F.expr("INTERVAL 10 minutes")),
    ).count()
    assert got == expected and expected > 0


def test_pii_scrub_counts_and_redaction(spark):
    from graph_db_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c%d@sub.ex.org then 10.0.255.7 and 555-123-4567 end"),
            (2, "no pii here at all"),
            (3, "two mails x@y.io z@w.ai; ip-ish 999.999.999.999 still matches shape"),
            (4, ""),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(df).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
    assert got[1]["redacted"] == "mail [EMAIL] then [IPV4] and [PHONE] end"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
    assert got[2]["redacted"] == "no pii here at all"
    # syntactic ipv4 shape is matched (no range validation — documented)
    assert (got[3]["n_email"], got[3]["n_ipv4"]) == (2, 1)
    assert got[4]["redacted"] == ""


def test_chunk_tokens_stride_and_tail(spark):
    from graph_db_spark.operators.text import chunk_tokens

    toks80 = " ".join(f"t{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, toks80), (2, "a b c"), (3, ""), (4, " ".join(f"x{i}" for i in range(32)))],
        "doc_id LONG, text STRING",
    )
    out = chunk_tokens(df, chunk=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,24,48 — sizes 32,32,32; every token covered; tail not
    # re-emitted as a 4th mostly-overlap chunk (start 72 would add nothing new)
    sizes = [r["n_chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])]
    assert sizes == [32, 32, 32]
    assert by_doc[1][0]["chunk_text"].startswith("t0 t1 ")
    covered = set()
    for r in by_doc[1]:
        covered.update(r["chunk_text"].split(" "))
    assert covered == {f"t{i}" for i in range(80)}
    # short doc: one chunk, whole doc
    assert [(r["chunk_id"], r["n_chunk_tokens"]) for r in by_doc[2]] == [(0, 3)]
    # empty doc: no chunks
    assert 3 not in by_doc
    # exactly one window: no empty second chunk
    assert [(r["chunk_id"], r["n_chunk_tokens"]) for r in by_doc[4]] == [(0, 32)]
    with pytest.raises(ValueError):
        chunk_tokens(df, chunk=8, overlap=8)


def test_pii_and_chunk_plans_no_shuffle(spark, sf_dir):
    """Both kernels must stay pure map-stages: scan -> project(-explode),
    zero Exchange — at 100 TB they ride along with any existing scan."""
    from graph_db_spark.operators.text import chunk_tokens, pii_scrub

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for frame in (pii_scrub(d), chunk_tokens(d)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_kcore_peeling(spark):
    from graph_db_spark.pregel import kcore

    # triangle 1-2-3 with a pendant chain 3-4-5: the 2-core is exactly the
    # triangle, reached after peeling 5 (round 1) then 4 (round 2).
    # Duplicate / reversed / self-loop edges must not inflate degrees.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (4, 5), (4, 4)],
        "src LONG, dst LONG",
    )
    out, rounds = kcore(edges, k=2)
    got = {r["id"]: r["degree"] for r in out.collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    assert rounds == 3  # two peel rounds + the convergence-confirming round

    empty, _ = kcore(edges, k=3)
    assert empty.count() == 0


def test_kcore_converges_within_oracle_unroll(spark, sf_dir):
    """The unrolled DuckDB oracle for graph_kcore_part_supplier is exact
    only if the peel converges within its 8 unrolled rounds — assert the
    actual round count with headroom."""
    from graph_db_spark.pregel import kcore

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (
        li.filter(F.col("l_quantity") >= 48)
        .select(F.col("l_partkey").alias("src"), (F.lit(10**9) + F.col("l_suppkey")).alias("dst"))
        .distinct()
    )
    _, rounds = kcore(edges, k=4)
    assert rounds <= 8, rounds


def test_label_propagation_two_communities(spark):
    """Two disjoint triangles: every vertex's neighbors all end up
    carrying the triangle's min label, so LPA converges to one label per
    triangle (and is stable across extra rounds)."""
    from graph_db_spark.pregel import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)], "src LONG, dst LONG"
    )
    got = {r["id"]: r["label"] for r in label_propagation(edges, n_iters=4).collect()}
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[10], got[11], got[12]}) == 1
    assert got[1] != got[10]


def test_label_propagation_tiebreak_deterministic(spark):
    """A vertex with two equally-frequent neighbor labels adopts the
    smaller one (count DESC, label ASC)."""
    from graph_db_spark.pregel import label_propagation

    edges = spark.createDataFrame([(5, 9), (7, 9)], "src LONG, dst LONG")
    got = {r["id"]: r["label"] for r in label_propagation(edges, n_iters=1).collect()}
    assert got[9] == 5  # neighbors {5, 7}, one vote each -> min label


def test_personalized_pagerank_concentrates_on_seed(spark):
    """On a directed chain, rank decays monotonically with distance from
    the seed, and unreached vertices hold rank 0."""
    from graph_db_spark.pregel import personalized_pagerank

    verts = spark.createDataFrame([(i,) for i in range(6)], "id LONG")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (5, 0)], "src LONG, dst LONG")
    seeds = spark.createDataFrame([(0,)], "id LONG")
    got = {r["id"]: r["rank"] for r in personalized_pagerank(verts, edges, seeds, n_iters=4).collect()}
    assert got[0] > got[1] > got[2] > got[3] > 0
    assert got[4] == 0.0 and got[5] == 0.0  # not reachable from the seed


def test_iterative_loops_release_checkpoint_blocks(spark):
    """Superseded localCheckpoint generations must be dropped each round
    (pregel.release): a deep loop may otherwise pin one block set per
    round for the session's lifetime. A 60-deep chain bounds the leak
    check well above noise."""
    import gc

    from graph_db_spark.pregel import connected_components, pagerank, shortest_paths

    def n_persistent():
        gc.collect()
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    n = 60
    verts = spark.createDataFrame([(i,) for i in range(n)], "id LONG")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    w_edges = edges.withColumn("weight", (F.col("src") % 3 + 1).cast("double"))
    src = spark.createDataFrame([(0,)], "id LONG")

    before = n_persistent()
    cc = connected_components(verts, edges, max_iters=n + 5)
    assert cc.count() == n
    sp = shortest_paths(w_edges, src, max_iters=n + 5)
    assert sp.count() == n
    pr = pagerank(verts, edges, n_iters=10)
    assert pr.count() == n
    after = n_persistent()
    # each loop's RESULT is one live checkpointed frame; the ~170 loop
    # rounds above must not have pinned one generation each
    assert after - before <= 6, f"leaked {after - before} persistent RDDs"


def test_lsh_dim_mismatch_contract(spark):
    """Documented failure modes of lsh_cosine_topk: mismatched
    corpus/query dims yield an EMPTY result by default, and raise with
    assert_same_dim=True."""
    import pytest

    from graph_db_spark.operators.similarity import lsh_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 2.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    assert lsh_cosine_topk(corpus, queries, k=3).count() == 0
    with pytest.raises(ValueError, match="dim"):
        lsh_cosine_topk(corpus, queries, k=3, assert_same_dim=True)
    # matching dims under the assert flag still work
    q_ok = spark.createDataFrame(
        [(100, [1.0, 2.0, 0.0, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    assert lsh_cosine_topk(corpus, q_ok, k=3, assert_same_dim=True).count() > 0


def test_stream_dedup_near_banded_matches_batch_lsh(spark, sf_dir, tmp_path):
    """Equality of survivors: the streaming banded near-dup (per-bucket
    first-writer-wins claims over band keys) drops EXACTLY the docs the
    batch LSH candidate join drops on the same corpus slice — i.e. the
    streaming recall tier now matches lsh_candidate_pairs, not just
    full-signature repeats. Runs across TWO micro-batches so bucket
    claims must persist in state between batches."""
    from graph_db_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )
    from graph_db_spark.streaming import stream_dedup_near_banded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    # planted exact copies (share every band with their original) and a
    # shingle-less short doc (must never hit nor suppress)
    copies = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 500
    )
    shorts = spark.createDataFrame(
        [(9001, "hi", "en", "srcx", 2)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    full = docs.unionByName(copies).unionByName(shorts).cache()
    full.count()

    src = str(tmp_path / "docs_banded")
    full.filter(F.col("doc_id") < 60).write.parquet(src)
    q = (
        stream_dedup_near_banded(spark, src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("banded_hits")
        .start()
    )
    try:
        q.processAllAvailable()
        full.filter(F.col("doc_id") >= 60).write.mode("append").parquet(src)
        q.processAllAvailable()
        dropped_stream = {
            r["doc_id"]
            for r in spark.sql("SELECT DISTINCT doc_id FROM banded_hits").collect()
        }
    finally:
        q.stop()

    sigs = minhash_signatures(shingles(full, "doc_id", "text", 3), n_hashes=8)
    pairs = lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
    dropped_batch = {r["b"] for r in pairs.select("b").distinct().collect()}

    assert dropped_stream == dropped_batch
    # the planted copies share every band with a lower-id original
    assert {500 + i for i in range(5)} <= dropped_stream
    assert 9001 not in dropped_stream
    full.unpersist()


def test_minhash_caller_supplied_count_skips_count_job(spark, sf_dir):
    """Passing corpus_rows to minhash_near_dup_pairs runs NO Spark job
    during pipeline construction (the unconditional df.count() was a
    FULL job for filtered/derived inputs — round-7 verdict item 8), and
    the supplied size still drives the band-join strategy: above
    LSH_BROADCAST_MAX_DOCS the band self-join is merge-hinted."""
    from graph_db_spark.operators.dedup import minhash_near_dup_pairs

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    sc.setJobGroup("mh-build", "mh-build")
    try:
        big = minhash_near_dup_pairs(docs, "doc_id", "text", corpus_rows=10**6)
        small = minhash_near_dup_pairs(docs, "doc_id", "text", corpus_rows=100)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("mh-build")) == 0
    plan_big = big._jdf.queryExecution().sparkPlan().toString()
    assert "SortMergeJoin" in plan_big, plan_big
    # below the threshold the choice is left to Spark (no merge pin)
    plan_small = small._jdf.queryExecution().sparkPlan().toString()
    assert plan_small  # analyzable; strategy unpinned by design
    # and the queries.py route resolves the count from parquet footers
    from graph_db_spark.queries import _parquet_rows

    assert _parquet_rows(sf_dir, "documents") == spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).count()


def test_bpe_select_merge_batch_contract():
    """The batched-fit selector's exact-equality guards, case by case
    (pure driver function — no Spark)."""
    from graph_db_spark.operators.bpe import _select_merge_batch

    # disjoint prefix, strictly descending counts: accepted up to the
    # last tier, which is trimmed (the unpulled tail could tie count 4)
    rows = [("a", "b", 10), ("c", "d", 8), ("e", "f", 6), ("g", "h", 4)]
    assert _select_merge_batch(rows, 16, set()) == [
        ("a", "b"), ("c", "d"), ("e", "f")
    ]
    # operand reuse stops the prefix AND sets c*: later tiers <= c* trim
    rows = [("a", "b", 10), ("c", "d", 8), ("b", "x", 7), ("e", "f", 7)]
    assert _select_merge_batch(rows, 16, set()) == [("a", "b"), ("c", "d")]
    # tie with the first unaccepted candidate: ambiguous tier trimmed
    rows = [("a", "b", 10), ("c", "d", 8), ("b", "x", 8)]
    assert _select_merge_batch(rows, 16, set()) == [("a", "b")]
    # concat collision with an accepted operand ("a"+"b" would forge
    # p1's operand "ab"): stops the prefix
    rows = [("ab", "c", 10), ("a", "b", 8), ("x", "y", 6)]
    assert _select_merge_batch(rows, 16, set()) == [("ab", "c")]
    # equal concats ("a"+"bc" == "ab"+"c"): stops the prefix
    rows = [("a", "bc", 10), ("ab", "c", 8)]
    assert _select_merge_batch(rows, 16, set()) == [("a", "bc")]
    # head concat collides with an existing vocabulary token: solo round
    rows = [("a", "b", 10), ("c", "d", 8)]
    assert _select_merge_batch(rows, 16, {"ab"}) == [("a", "b")]
    # cap respected; c* = count at the cap position
    rows = [("a", "b", 10), ("c", "d", 9), ("e", "f", 8)]
    assert _select_merge_batch(rows, 2, set()) == [("a", "b"), ("c", "d")]
    # prefix consumed the whole pulled head: the whole trailing tier is
    # trimmed (a created pair could tie count 8 and win the tie-break)
    rows = [("a", "b", 10), ("c", "d", 8), ("e", "f", 8)]
    assert _select_merge_batch(rows, 16, set()) == [("a", "b")]


def test_bpe_greedy_batched_fit_cuts_jobs(spark, sf_dir):
    """batch_mode='greedy' (frequency-snapshot batching, documented
    deviation): the distributed fit at 64 merges must cost a small
    FRACTION of the exact path's one-safe-batch-per-round jobs, every
    per-round batch must be mutually non-interacting, and the learned
    rules must still round-trip encode the corpus."""
    import graph_db_spark.operators.bpe as B
    from graph_db_spark.operators.bpe import bpe_encode, fit_bpe

    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60).cache()

    batches: list[list[tuple[str, str]]] = []
    orig = B._select_merge_batch

    def spy(rows, cap, known, exact=True):
        out = orig(rows, cap, known, exact=exact)
        batches.append(out)
        return out

    B._select_merge_batch = spy
    try:
        exact, jobs_exact = count_jobs(
            "bpe-exact",
            lambda: fit_bpe(docs, n_merges=64, local_max_words=0),
        )
        batches.clear()
        greedy, jobs_greedy = count_jobs(
            "bpe-greedy",
            lambda: fit_bpe(
                docs, n_merges=64, local_max_words=0, batch_mode="greedy"
            ),
        )
    finally:
        B._select_merge_batch = orig

    assert len(greedy) == 64 == len(exact)
    # the K-fold round cut the exact guard cannot deliver on char corpora
    assert jobs_greedy * 3 <= jobs_exact
    # bounded deviation: the greedy vocabulary stays close to the exact
    # (= sequential) fit — order deviates on interacting tiers, but the
    # learned token SET overlaps substantially (measured 46/64 on this
    # corpus; bound leaves headroom for testdata regeneration)
    assert len({a + b for a, b in exact} & {a + b for a, b in greedy}) >= int(0.6 * 64)
    # every greedy batch is mutually non-interacting (operands, concats)
    for batch in batches:
        used: set[str] = set()
        for a, b in batch:
            assert not ({a, b, a + b} & used)
            used.update((a, b, a + b))
    # the deviated rules are still a valid tokenizer: concatenating the
    # tokens reconstructs the lower-cased text (sans whitespace)
    enc = {
        r["id"]: r["tokens"]
        for r in bpe_encode(docs.limit(10), greedy).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.limit(10).collect()}
    for did, toks in enc.items():
        assert "".join(toks) == "".join(texts[did].lower().split())
    docs.unpersist()


def test_bpe_greedy_cap1_equals_sequential_fit(spark, sf_dir):
    """batch_cap=1 is greedy mode's degenerate case and must reproduce
    the classic one-merge-per-round loop EXACTLY: greedy == exact ==
    the driver-local sequential argmax fit over the same word-frequency
    table. Pins the giant-vocab path's output to ground truth where the
    modes are defined to coincide (round-7 verdict item 3)."""
    from graph_db_spark.operators.bpe import _fit_bpe_local, fit_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40).cache()
    try:
        greedy1 = fit_bpe(
            docs, n_merges=12, local_max_words=0, batch_cap=1, batch_mode="greedy"
        )
        exact1 = fit_bpe(docs, n_merges=12, local_max_words=0, batch_cap=1)
        # sequential ground truth from the same ws_tokens(lower(text))
        # word table, aggregated driver-side
        freqs: dict[str, int] = {}
        for r in docs.collect():
            for w in r["text"].lower().split():
                freqs[w] = freqs.get(w, 0) + 1
        expected = _fit_bpe_local(sorted(freqs.items()), 12)
        assert greedy1 == exact1 == expected
    finally:
        docs.unpersist()


def test_stream_dedup_near_banded_builtin_matches_python_route(spark, sf_dir, tmp_path):
    """The JVM-native banded dedup (dropDuplicatesWithinWatermark claims
    + stream-stream join-back, round-11) drops the same doc set as the
    Python stateful route on a corpus whose duplicate pairs straddle
    micro-batches — the regime where both routes' claimant election is
    deterministic (intra-batch ties are the documented divergence:
    the built-in keeps the first row it happens to process, the Python
    operator elects (min ts, min doc_id))."""
    from graph_db_spark.streaming import (
        stream_dedup_near_banded,
        stream_dedup_near_banded_builtin,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    copies = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 500
    )
    shorts = spark.createDataFrame(
        [(9001, "hi", "en", "srcx", 2)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    full = docs.unionByName(copies).unionByName(shorts).cache()
    full.count()

    def run(fn, name):
        src = str(tmp_path / f"docs_{name}")
        # originals in batch 1, planted copies (+500) in batch 2: claims
        # must persist in state across batches for either route
        full.filter(F.col("doc_id") < 60).write.parquet(src)
        q = (
            fn(spark, src)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"hits_{name}")
            .start()
        )
        try:
            q.processAllAvailable()
            full.filter(F.col("doc_id") >= 60).write.mode("append").parquet(src)
            q.processAllAvailable()
            return {
                r["doc_id"]
                for r in spark.sql(f"SELECT DISTINCT doc_id FROM hits_{name}").collect()
            }
        finally:
            q.stop()

    dropped_py = run(stream_dedup_near_banded, "py")
    dropped_builtin = run(stream_dedup_near_banded_builtin, "builtin")
    assert dropped_builtin == dropped_py
    assert {500 + i for i in range(5)} <= dropped_builtin
    assert 9001 not in dropped_builtin


def test_stream_dedup_vs_store_matches_batch_candidates(spark, sf_dir, tmp_path):
    """STREAM-STATIC store probe (round-13): arriving docs' band keys
    joined against the persisted signature store must produce EXACTLY
    the batch route's arrival-vs-store candidate set (band keys are
    bit-identical md5s on both paths), statelessly — no watermark, no
    state store. Shingle-less docs (__nosig__ fallback) never hit."""
    from graph_db_spark.operators.dedup import (
        band_bucket_rows,
        minhash_signatures,
        shingles,
        signature_store_write,
    )
    from graph_db_spark.streaming import stream_dedup_vs_store

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    store_docs = docs.filter(F.col("doc_id") < 60)
    store_path = str(tmp_path / "sig_store")
    signature_store_write(store_docs, store_path)

    # arrivals: copies of 5 store docs (+500 — must hit their originals),
    # 40 novel docs, and one shingle-less doc (must never hit)
    copies = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 500
    )
    novel = docs.filter(F.col("doc_id") >= 60)
    shorts = spark.createDataFrame(
        [(9001, "hi", "en", "srcx", 2)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    arrivals = copies.unionByName(novel).unionByName(shorts)
    src = str(tmp_path / "arrivals")
    arrivals.write.parquet(src)

    q = (
        stream_dedup_vs_store(spark, src, store_path)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("store_hits")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["band"], r["store_id"])
            for r in spark.sql(
                "SELECT doc_id, band, store_id FROM store_hits"
            ).collect()
        }
        # the query carries NO stateful operator
        prog = q.lastProgress
        assert not (prog or {}).get("stateOperators"), prog
    finally:
        q.stop()

    # batch twin of the probe: arrival bands x store bands equi-join
    a_band = band_bucket_rows(
        minhash_signatures(shingles(arrivals, "doc_id", "text", 3), 8), 8, 4
    )
    s_band = band_bucket_rows(
        minhash_signatures(shingles(store_docs, "doc_id", "text", 3), 8), 8, 4
    )
    want = {
        (r["doc_id"], r["band"], r["store_id"])
        for r in a_band.join(
            s_band.select(
                F.col("band"), F.col("bkey"), F.col("id").alias("store_id")
            ),
            ["band", "bkey"],
        )
        .select(F.col("id").alias("doc_id"), "band", "store_id")
        .collect()
    }
    assert got == want
    hit_docs = {d for d, _, _ in got}
    assert {500 + i for i in range(5)} <= hit_docs  # every copy hits
    assert 9001 not in hit_docs  # shingle-less never hits
    # each copy's original is among its hits
    for i in range(5):
        assert any(d == 500 + i and s == i for d, _b, s in got)


def test_stream_dedup_builtin_intra_batch_pair_keeps_one_survivor(spark, sf_dir, tmp_path):
    """Round-11 advice (survivor-loss hazard): a duplicate pair landing
    in the SAME micro-batch may split its bucket claims between the two
    docs — emitting the row side of every join match would then name
    BOTH docs as hits and a consumer dropping hit doc_ids would
    annihilate every copy. The loser election (hit = the pair's
    (ts, doc_id)-max) must keep exactly the earlier doc, whatever
    processing order the dedup elected claims in. Ten twin pairs, one
    batch: every hit names the later twin, never the earlier."""
    from graph_db_spark.streaming import stream_dedup_near_banded_builtin

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    copies = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 700
    )
    src = str(tmp_path / "docs_intra")
    docs.unionByName(copies).write.parquet(src)  # one batch: all together
    q = (
        stream_dedup_near_banded_builtin(spark, src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hits_intra")
        .start()
    )
    try:
        q.processAllAvailable()
        hits = {
            r["doc_id"]
            for r in spark.sql("SELECT DISTINCT doc_id FROM hits_intra").collect()
        }
    finally:
        q.stop()
    assert {700 + i for i in range(10)} <= hits  # every later twin dropped
    assert not (set(range(10)) & hits), (
        f"earlier twin annihilated: {sorted(set(range(10)) & hits)}"
    )


def test_stream_dedup_builtin_claim_lag_bounds_rows_state(spark, sf_dir, tmp_path):
    """VERDICT r11 item 6: claim_lag tightens the rows-side join window
    (ts >= c_ts - lag) so rows-side state ages out after the arrival-
    disorder bound instead of the full dedup horizon. On an event-time-
    ordered ingest a tight lag must drop the identical doc set — and
    the rows-side state watermark must be lag-bounded, i.e. strictly
    fewer state rows survive the run than under the symmetric default.

    Corpus is synthetic so the EVENT-TIME span (ts = doc_id seconds,
    originals 2 min apart over ~6.6 h) dwarfs the 10-minute watermark —
    with the fixture docs' 1-second spacing nothing ever crosses an
    eviction boundary and both routes retain every row. Copies sit
    1 minute after their originals (inside any lag tested); a far-
    future sentinel batch advances the watermark so eviction runs."""
    from graph_db_spark.streaming import stream_dedup_near_banded_builtin

    def body(i):
        return f"synthetic corpus body number {i} with a tail for shingles"

    def mkdocs(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src", len(t)) for i, t in rows],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )

    orig_ids = [i * 120 for i in range(200)]  # 2-min spacing, ~6.6 h span
    originals = [(i, body(i)) for i in orig_ids]
    # copies: the original's exact text, 1 minute after it
    copies = [(i + 60, body(i)) for i in orig_ids[-6:]]
    copy_ids = {i for i, _ in copies}
    sentinel = [(10_000_000, body(10_000_000))]  # far future: advances watermark

    def run(name, **kw):
        src = str(tmp_path / f"docs_{name}")
        mkdocs(originals).coalesce(1).write.parquet(src)
        q = (
            stream_dedup_near_banded_builtin(
                spark, src, watermark="10 minutes", **kw
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"hits_{name}")
            .start()
        )
        try:
            q.processAllAvailable()
            mkdocs(copies).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            # batch 2 runs under batch 1's closing watermark (last original
            # minus 10 min): rows-side eviction up to wm - lag has happened,
            # so the two routes' retained state differs HERE. The sentinel
            # batch afterwards would wipe both sides identically.
            state = sum(
                op.get("numRowsTotal", 0)
                for op in (q.lastProgress or {}).get("stateOperators", [])
            )
            mkdocs(sentinel).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            hits = {
                r["doc_id"]
                for r in spark.sql(f"SELECT DISTINCT doc_id FROM hits_{name}").collect()
            }
            return hits, state
        finally:
            q.stop()

    hits_sym, state_sym = run("sym")
    hits_lag, state_lag = run("lag", claim_lag="1 minute")
    # identical near-dup identification: every planted copy (identical
    # text, 1 min later) is dropped on both routes
    assert copy_ids <= hits_lag
    assert hits_lag == hits_sym
    assert state_lag < state_sym, (state_lag, state_sym)


def test_stream_dedup_near_banded_state_expires_with_watermark(spark, sf_dir, tmp_path):
    """The 100 TB memory claim, empirically: bucket claims age out one
    watermark horizon after last activity. A copy arriving INSIDE the
    horizon hits; after the watermark passes the claim's timeout, the
    same bands are claimable again — a far-future copy does NOT hit
    (state was dropped, not grown forever)."""
    from graph_db_spark.streaming import stream_dedup_near_banded

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") == 0
    )
    text = base.collect()[0]["text"]

    def doc(doc_id):
        return spark.createDataFrame(
            [(doc_id, text, "en", "src", len(text))],
            "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        )

    src = str(tmp_path / "docs_expire")
    # batch 1: original (t=+0s) and an inside-horizon copy (t=+100s)
    doc(0).unionByName(doc(100)).write.parquet(src)
    q = (
        stream_dedup_near_banded(spark, src, watermark="6 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("banded_expiry")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: far-future sentinel (t=+40h, DISTINCT text) advances
        # the watermark to ~+34h, far past the claims' +6h timeout
        def pusher(doc_id, words):
            return spark.createDataFrame(
                [(doc_id, words, "en", "src", len(words))],
                "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
            )

        pusher(144000, "totally different words " * 10).write.mode("append").parquet(src)
        q.processAllAvailable()
        # batch 3: another pusher — doc 0's bucket keys are SILENT this
        # batch, so their timed-out state is evicted here (timeouts fire
        # only for keys without data in the batch)
        pusher(144010, "yet another unrelated sentence " * 10).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # batch 4: copy of doc 0 at t=+40h+20s — the original claims are
        # gone, so it claims fresh buckets and must NOT hit
        doc(144020).write.mode("append").parquet(src)
        q.processAllAvailable()
        hits = {
            r["doc_id"] for r in spark.sql("SELECT doc_id FROM banded_expiry").collect()
        }
    finally:
        q.stop()
    assert 100 in hits       # inside the horizon: suppressed
    assert 144020 not in hits  # past the horizon: state dropped, passes
    assert 0 not in hits and 144000 not in hits and 144010 not in hits


def test_duplicated_span_coverage_interval_union(spark):
    """Exact-substring coverage math on hand-built docs: overlapping
    duplicated k-gram windows union (not sum); within-doc repeats count;
    unique docs and sub-k docs report zero."""
    from graph_db_spark.operators.dedup import duplicated_span_coverage

    w = [f"w{i}" for i in range(12)]          # 12-token span shared by docs 1/2
    uniq = [f"u{i}" for i in range(8)]
    rep = [f"r{i}" for i in range(4)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(w + ["tail1a", "tail1b"])),
            (2, " ".join(["head2a", "head2b"] + w)),
            (3, " ".join(uniq)),               # nothing shared, < k anyway? 8 < 10 -> no grams
            (4, " ".join(rep + ["x", "y"] + rep)),  # within-doc repeat but spans < k: no dup
            (5, " ".join(w + w)),              # 24 tokens, self-repeated 12-gram block
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["id"]: (r["n_tok"], r["dup_tokens"], r["dup_frac"])
        for r in duplicated_span_coverage(docs, "doc_id", "text", k=10).collect()
    }
    # docs 1 and 2 share the exact 12-token run: its three 10-gram
    # windows (pos 1..3 within the run) union to 12 covered tokens each
    assert out[1] == (14, 12, round(12 / 14, 6))
    assert out[2] == (14, 12, round(12 / 14, 6))
    # doc 3: shorter than k -> no grams -> zero
    assert out[3] == (8, 0, 0.0)
    # doc 4: repeated 4-token block never spans a shared 10-gram
    assert out[4] == (10, 0, 0.0)
    # doc 5: w+w — every 10-gram window inside it repeats somewhere
    # (either in doc 1/2's copy of w or in its own second half), so
    # coverage is the FULL 24 tokens (union of pos 1..15 windows)
    assert out[5] == (24, 24, 1.0)


def test_strip_duplicated_spans_consistent_with_coverage(spark):
    """Removal and measurement agree: n_tok - n_kept == dup_tokens for
    every doc (both compute the same duplicated-interval union), and the
    cleaned text is exactly the surviving tokens in order."""
    from graph_db_spark.operators.dedup import (
        duplicated_span_coverage,
        strip_duplicated_spans,
    )

    w = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(w + ["tail1a", "tail1b"])),
            (2, " ".join(["head2a", "head2b"] + w)),
            (3, " ".join(f"u{i}" for i in range(20))),
            (5, " ".join(w + w)),
        ],
        "doc_id LONG, text STRING",
    )
    cov = {
        r["id"]: r["dup_tokens"]
        for r in duplicated_span_coverage(docs, "doc_id", "text", k=10).collect()
    }
    out = {
        r["id"]: r
        for r in strip_duplicated_spans(docs, "doc_id", "text", k=10).collect()
    }
    for i, r in out.items():
        assert r["n_tok"] - r["n_kept"] == cov[i], i
    assert out[1]["clean_text"] == "tail1a tail1b"
    assert out[2]["clean_text"] == "head2a head2b"
    assert out[3]["n_kept"] == 20  # untouched
    assert out[5]["clean_text"] == "" and out[5]["n_kept"] == 0


def test_duplicated_span_coverage_matches_bruteforce_random_corpus(spark):
    """Randomized cross-check (seeded): on a corpus engineered for heavy
    gram sharing, the operator's windowed interval-union coverage equals
    a brute-force python recomputation (positions covered by any k-gram
    occurring >1 time in the corpus), for every doc."""
    import random

    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> many shared grams
    k = 4
    docs_py = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(docs_py, "doc_id LONG, text STRING")

    from graph_db_spark.operators.dedup import duplicated_span_coverage

    got = {
        r["id"]: (r["n_tok"], r["dup_tokens"])
        for r in duplicated_span_coverage(docs, "doc_id", "text", k=k).collect()
    }

    # brute force: count every k-gram occurrence corpus-wide, then union
    # covered positions per doc
    toks = {i: t.lower().split() for i, t in docs_py}
    counts: dict[tuple, int] = {}
    for i, tk in toks.items():
        for p in range(len(tk) - k + 1):
            g = tuple(tk[p : p + k])
            counts[g] = counts.get(g, 0) + 1
    for i, tk in toks.items():
        covered = set()
        for p in range(len(tk) - k + 1):
            if counts[tuple(tk[p : p + k])] > 1:
                covered.update(range(p, p + k))
        assert got[i] == (len(tk), len(covered)), (i, got[i], len(tk), len(covered))

    # the skew-fallback route (groupBy+join, AQE-skew-splittable) is
    # value-identical to the default single-compute window route
    got_join = {
        r["id"]: (r["n_tok"], r["dup_tokens"])
        for r in duplicated_span_coverage(
            docs, "doc_id", "text", k=k, dup_count_via="join"
        ).collect()
    }
    assert got_join == got


def test_semantic_dedup_prunes_planted_twins(spark, sf_dir):
    """SemDeDup contract on the planted-twin fixture: nearly every
    (i, i+100000) twin pair co-assigns to one cell (cos ~0.998 between
    twins; a pair can legitimately straddle a cluster boundary — the
    paper's documented miss mode — so assert >= 90%), every CO-ASSIGNED
    pair has exactly ONE member pruned, and the kept one is the pair's
    least-centroid-similar member (ties on id) — the keep-low rule.
    Also: no vector is pruned in a cell where it is the (cent_cos,
    id)-first member."""
    from graph_db_spark.operators.dedup import semantic_dedup_tree_verdicts
    from graph_db_spark.operators.similarity import kmeans_fit

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x
            + F.lit(0.005) * (((d * 31 + F.col("vec_id")) % 5) - 2).cast("double"),
        ).alias("embedding"),
    )
    u = e.unionByName(pert)
    cent = kmeans_fit(u, k=8, n_iters=2)
    rows = {
        r.id: r for r in semantic_dedup_tree_verdicts(u, [cent], tau=0.99).collect()
    }
    n_base = e.count()
    assert len(rows) == 2 * n_base  # one verdict per vector
    co_assigned = 0
    for i in range(n_base):
        a, b = rows[i], rows[i + 100000]
        if a.cell != b.cell:
            continue  # boundary-straddling pair: unprunable by design
        co_assigned += 1
        assert a.pruned != b.pruned, f"twin pair {i}: expected exactly one pruned"
        kept, cut = (a, b) if not a.pruned else (b, a)
        assert (kept.cent_cos, kept.id) < (cut.cent_cos, cut.id)
    assert co_assigned >= 0.9 * n_base
    # per-cell first member in (cent_cos, id) order is never pruned
    by_cell = {}
    for r in rows.values():
        by_cell.setdefault(r.cell, []).append(r)
    for members in by_cell.values():
        first = min(members, key=lambda r: (r.cent_cos, r.id))
        assert not first.pruned


def test_semantic_dedup_degenerate_zero_vector(spark):
    """A zero-norm vector (NULL cosine everywhere) gets NULL cell and
    pruned=false — the ivf_assign degenerate-input contract — and
    distinct far-apart vectors are never pruned at a high threshold."""
    from graph_db_spark.operators.dedup import semantic_dedup_tree_verdicts

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (9, [0.0, 0.0, 0.0]),
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    cent = df.filter(F.col("vec_id") < 2)
    got = {r.id: r for r in semantic_dedup_tree_verdicts(df, [cent], tau=0.99).collect()}
    assert set(got) == {0, 1, 2, 9}
    assert got[9].cell is None and got[9].pruned is False
    assert not any(r.pruned for r in got.values())


def test_dsir_weights_favor_target_source(spark):
    """DSIR on a corpus with a REAL target signal: target docs draw from
    vocabulary B, raw docs from disjoint vocabulary A. Every B-vocab doc
    must outscore every A-vocab doc — including B-vocab docs NOT labeled
    target (DSIR selects by content, not label: that's the point of
    importance resampling). B docs land selected=true (their buckets'
    target/raw likelihood ratio > 1), A docs false. The deterministic
    Gumbel key must be finite and distinct per doc.

    (The parquet fixture's sources share one vocabulary distribution, so
    separation there would be asserting noise — the fixture query's gate
    is its DuckDB value-hash oracle.)"""
    import math

    from graph_db_spark.operators.text import dsir_weights

    a_vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    b_vocab = ["omega", "sigma", "lam", "theta", "phi"]
    rows = []
    for i in range(45):
        uses_b = i < 10 or i >= 40  # 10 labeled target + 5 unlabeled B-vocab
        vocab = b_vocab if uses_b else a_vocab
        toks = [vocab[(i * 7 + j) % 5] for j in range(30)]
        rows.append((i, i < 10, uses_b, " ".join(toks)))
    df = spark.createDataFrame(
        rows, "doc_id INT, is_tgt BOOLEAN, uses_b BOOLEAN, text STRING"
    )
    got = {
        r.doc_id: r
        for r in dsir_weights(
            df, "is_tgt", id_col="doc_id", text_col="text", keep_cols=("uses_b",)
        ).collect()
    }
    assert len(got) == 45
    b_w = [r.dsir_weight for r in got.values() if r.uses_b]
    a_w = [r.dsir_weight for r in got.values() if not r.uses_b]
    assert min(b_w) > max(a_w)
    for r in got.values():
        assert r.selected == (r.dsir_weight >= 0)
        assert r.selected == r.uses_b
    keys = [r.gumbel_key for r in got.values()]
    assert all(math.isfinite(k) for k in keys)
    assert len(set(keys)) == len(keys)


def test_semantic_dedup_hier_matches_exact_mostly(spark, sf_dir):
    """The hierarchical-assignment variant must agree with the exact
    variant on nearly every verdict (they can differ only for vectors
    whose true nearest fine centroid lives in a different coarse cell —
    the IVF n_probe=1 trade), and its own within-cell contract must hold:
    every co-assigned twin pair has exactly one member pruned."""
    from graph_db_spark.queries import REGISTRY

    exact = {
        r.vec_id: r
        for r in REGISTRY["dedup_semantic_semdedup"].build(spark, sf_dir).collect()
    }
    hier = {
        r.vec_id: r
        for r in REGISTRY["dedup_semantic_semdedup_hier"].build(spark, sf_dir).collect()
    }
    assert set(hier) == set(exact)
    agree = sum(1 for i in exact if exact[i].pruned == hier[i].pruned)
    assert agree >= 0.9 * len(exact)
    n_base = len(exact) // 2
    co = one = 0
    for i in range(n_base):
        a, b = hier[i], hier[i + 100000]
        if a.cell is None or a.cell != b.cell:
            continue
        co += 1
        one += a.pruned != b.pruned
    assert co >= 0.85 * n_base
    assert one == co  # exactly-one-pruned holds wherever twins co-route


def test_sample_cluster_balanced_flattens(spark, sf_dir):
    """The temperature rule must (a) cap every rate at 100%, (b) give a
    strictly smaller keep-rate to a strictly larger cluster whenever the
    larger one is below the cap (pow(n,0.7)/n is strictly decreasing),
    and (c) produce kept counts within the md5-coin's tolerance of
    n_vecs * rate_bp/10000."""
    from graph_db_spark.queries import REGISTRY

    rows = REGISTRY["sample_cluster_balanced"].build(spark, sf_dir).collect()
    assert rows and sum(r.n_vecs for r in rows) > 0
    for r in rows:
        assert 0 < r.rate_bp <= 10000
        expect = r.n_vecs * r.rate_bp / 10000.0
        # md5 coin: binomial-ish tolerance, generous for small cells
        assert abs(r.n_kept - expect) <= max(6, 4 * (expect ** 0.5))
    by_size = sorted(rows, key=lambda r: r.n_vecs)
    for small, big in zip(by_size, by_size[1:]):
        if small.n_vecs < big.n_vecs and big.rate_bp < 10000:
            assert small.rate_bp > big.rate_bp


def test_quality_percentile_gate_per_source(spark, sf_dir):
    """Each source keeps ~60% of its docs (exactly: pct <= 0.6 on a
    unique ordering), every source retains at least one doc, and the
    kept set within a source is exactly its quality-ordered prefix."""
    from collections import defaultdict

    from graph_db_spark.queries import REGISTRY

    rows = REGISTRY["quality_percentile_gate"].build(spark, sf_dir).collect()
    per_src = defaultdict(list)
    for r in rows:
        per_src[r.source].append(r)
    assert len(per_src) >= 2
    for src, rs in per_src.items():
        n = len(rs)
        kept = [r for r in rs if r.kept]
        assert kept, src
        # percent_rank <= 0.6 keeps ~floor(0.6*(n-1)) + 1 docs (the 6dp
        # rounding can shift the boundary row by one)
        assert abs(len(kept) - (int(0.6 * (n - 1)) + 1)) <= 1
        ordered = sorted(rs, key=lambda r: (-r.quality, r.doc_id))
        assert {r.doc_id for r in kept} == {r.doc_id for r in ordered[: len(kept)]}


def test_dsir_scores_zero_token_docs(spark):
    """A document with empty or all-whitespace text must still appear in
    the output with its empty-sum weight of 0, selected=true, and a
    finite gumbel key — not silently vanish at the token explode."""
    import math

    from graph_db_spark.operators.text import dsir_weights

    rows = [
        (0, True, "alpha beta gamma"),
        (1, False, "alpha alpha beta"),
        (2, False, ""),
        (3, False, "   \t  "),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, is_tgt BOOLEAN, text STRING")
    got = {r.doc_id: r for r in dsir_weights(df, "is_tgt", id_col="doc_id").collect()}
    assert set(got) == {0, 1, 2, 3}
    for i in (2, 3):
        assert got[i].dsir_weight == 0.0
        assert got[i].selected is True
        assert math.isfinite(got[i].gumbel_key)


def test_checkpoint_false_hatch_result_equivalence(spark):
    """Round-9 ADVICE hatch pinned: checkpoint=False must change only
    plan LAZINESS (no eager localCheckpoint jobs at construction), never
    results — semdedup exact, semdedup hierarchical, and DSIR all
    bit-match their checkpoint=True outputs."""
    from graph_db_spark.operators.dedup import semantic_dedup_tree_verdicts
    from graph_db_spark.operators.similarity import kmeans_fit
    from graph_db_spark.operators.text import dsir_weights

    rows = [
        (i, [float((i * 7 + j * 13) % 11) - 5.0 for j in range(8)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cent = kmeans_fit(df, k=6, n_iters=2)
    coarse = kmeans_fit(cent, k=3, n_iters=2)

    def key(rs):
        return sorted((tuple(r) for r in rs), key=repr)

    assert key(semantic_dedup_tree_verdicts(df, [cent], tau=0.9).collect()) == key(
        semantic_dedup_tree_verdicts(df, [cent], tau=0.9, checkpoint=False).collect()
    )
    assert key(
        semantic_dedup_tree_verdicts(df, [cent, coarse], tau=0.9).collect()
    ) == key(
        semantic_dedup_tree_verdicts(
            df, [cent, coarse], tau=0.9, checkpoint=False
        ).collect()
    )

    docs = spark.createDataFrame(
        [
            (i, i % 3 == 0, " ".join(f"w{(i * 5 + j) % 17}" for j in range(25)))
            for i in range(40)
        ],
        "doc_id INT, is_tgt BOOLEAN, text STRING",
    )
    assert key(
        dsir_weights(docs, "is_tgt", id_col="doc_id", text_col="text").collect()
    ) == key(
        dsir_weights(
            docs, "is_tgt", id_col="doc_id", text_col="text", checkpoint=False
        ).collect()
    )


def test_kmeans_sampled_fit_contract(spark):
    """Sampled-fit semantics (round-10): cells renumber to 0..k-1; a
    modulus of 1 on contiguous ids reproduces the legacy id<k fit
    bit-for-bit; sample_target derives the modulus from one count; the
    codebook trains ONLY on sample members (verified against a manual
    refit on the filtered frame)."""
    from graph_db_spark.operators.similarity import (
        kmeans_fit,
        kmeans_sample_pred,
    )

    rows = [
        (i, [float((i * 7 + j * 13) % 11) - 5.0 for j in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")

    legacy = {r.vec_id: r.embedding for r in kmeans_fit(df, k=6, n_iters=2).collect()}
    mod1 = {r.vec_id: r.embedding for r in kmeans_fit(df, k=6, n_iters=2, sample_mod=1).collect()}
    assert mod1 == legacy  # contiguous ids: same init set, same codebook

    got = kmeans_fit(df, k=6, n_iters=2, sample_mod=4).collect()
    assert sorted(r.vec_id for r in got) == list(range(6))  # renumbered cells

    # the sampled codebook equals a legacy-rule fit on the PRE-FILTERED
    # sample with its ids renumbered — proves no non-sample row leaks
    # into the Lloyd passes
    sample = df.filter(kmeans_sample_pred(F.col("vec_id"), 4))
    ordered = sorted(r.vec_id for r in sample.select("vec_id").collect())
    remap = {old: new for new, old in enumerate(ordered)}
    renum = spark.createDataFrame(
        [(remap[r.vec_id], r.embedding) for r in sample.collect()],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    manual = {r.vec_id: r.embedding for r in kmeans_fit(renum, k=6, n_iters=2).collect()}
    assert {r.vec_id: r.embedding for r in got} == manual

    # sample_target: n=200, target=50 -> modulus 4 == explicit sample_mod=4
    via_target = {r.vec_id: r.embedding for r in kmeans_fit(df, k=6, n_iters=2, sample_target=50).collect()}
    assert via_target == manual


def test_kmeans_fit_duplicate_ids_raise(spark):
    """The unique-id precondition fails LOUDLY (round-13 advice): feeding
    duplicate ids raises instead of training a silently-corrupt codebook.
    Both init paths are covered — legacy ``id < k`` emits duplicate cell
    keys; the sampled rank renumbering merges seeds into non-contiguous
    cells (rank(d_j) = c_j · Σ c_i is 0..m−1 only when every id is
    unique) — and a deduped frame then fits cleanly."""
    import pytest

    from graph_db_spark.operators.similarity import kmeans_fit

    rows = [
        (i if i != 3 else 2, [float((i * 7 + j * 13) % 11) for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="unique-id precondition"):
        kmeans_fit(df, k=6, n_iters=1)
    with pytest.raises(ValueError, match="unique-id precondition"):
        kmeans_fit(df, k=6, n_iters=1, sample_mod=1)
    deduped = df.groupBy("vec_id").agg(F.first("embedding").alias("embedding"))
    # sampled mode: id 3 is gone after the dedupe, so the legacy id<k rule
    # would seed only 5 cells; the renumbering path seeds the 6 smallest
    assert kmeans_fit(deduped, k=6, n_iters=1, sample_mod=1).count() == 6


def test_kmeans_fit_pool_route_equals_lazy_plan(spark, tmp_path, caplog):
    """A small fit sample is fetched with one bounded collect and every
    Lloyd pass runs on the driver (the pool route). Sampled and unsampled
    pool fits equal the lazy plan bit for bit and cost exactly one Spark
    job whatever n_iters is, over a one-file or a 4-partition source. A
    NaN member keeps the Spark aggregation for its means and still equals
    the lazy plan. A 600-row sample takes the Arrow route, equals the
    lazy plan too, and runs one job besides its passes: the fetch also
    supplies that route's init rows."""
    import logging
    import math

    from graph_db_spark.operators.similarity import kmeans_fit, kmeans_sample_pred

    sc = spark.sparkContext

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def codebook(frame):
        # NaN != NaN: compare a NaN-normalized copy
        return {
            r.vec_id: [x if x is None or not math.isnan(x) else "nan" for x in r.embedding]
            for r in frame.collect()
        }

    def frame(n, nan_at=None):
        rows = [
            (i, [float("nan") if (i, j) == nan_at else ((i * 7 + j * 13) % 11) / 3.0 - 1.7 + i * 1e-7
                 for j in range(8)])
            for i in range(n)
        ]
        path = str(tmp_path / f"km{n}_{nan_at[0] if nan_at else 'none'}")
        spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>").coalesce(1).write.parquet(path)
        return spark.read.parquet(path)

    small = frame(200)
    modes = [{}, {"sample_mod": 4}]
    driver = {}
    with caplog.at_level(logging.DEBUG, logger="graph_db_spark.operators.similarity"):
        for i, kw in enumerate(modes):
            for n_iters in (1, 3):
                out, jobs = count_jobs(
                    f"km-pool-{i}-{n_iters}",
                    lambda: kmeans_fit(small, k=6, n_iters=n_iters, **kw),
                )
                assert jobs == 1, (kw, n_iters, jobs)
                driver[i, n_iters] = codebook(out)
    routes = [r.getMessage() for r in caplog.records if "route=" in r.getMessage()]
    assert len(routes) == 4 and all("route=pool" in m for m in routes), routes
    for i, kw in enumerate(modes):
        for n_iters in (1, 3):
            lazy = kmeans_fit(small, k=6, n_iters=n_iters, checkpoint=False, **kw)
            assert driver[i, n_iters] == codebook(lazy), (kw, n_iters)

    spread = small.repartition(4).localCheckpoint()
    spread_jobs = [
        count_jobs(f"km-spread-{n_iters}", lambda: kmeans_fit(spread, k=6, n_iters=n_iters))[1]
        for n_iters in (1, 3)
    ]
    assert spread_jobs == [1, 1], spread_jobs

    # a NaN member (a sampled, non-init row, so both modes see it): the
    # driver means twin declines and Spark aggregates that pass
    member = small.filter(kmeans_sample_pred(F.col("vec_id"), 4)).agg(F.max("vec_id")).first()[0]
    nan = frame(200, nan_at=(member, 2))
    for i, kw in enumerate(modes):
        out, jobs = count_jobs(
            f"km-nan-{i}", lambda: kmeans_fit(nan, k=6, n_iters=2, **kw)
        )
        assert jobs > 1  # the fallback aggregation ran
        assert codebook(out) == codebook(
            kmeans_fit(nan, k=6, n_iters=2, checkpoint=False, **kw)
        )

    big = frame(600)
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="graph_db_spark.operators.similarity"):
        arrow = {
            n_iters: count_jobs(
                f"km-arrow-{n_iters}", lambda: kmeans_fit(big, k=6, n_iters=n_iters)
            )
            for n_iters in (1, 2)
        }
    assert any("route=arrow" in r.getMessage() for r in caplog.records)
    # jobs = fixed + n_iters * per_pass, and the fixed part is the fetch
    per_pass = arrow[2][1] - arrow[1][1]
    assert per_pass >= 1 and arrow[1][1] - per_pass == 1, arrow
    assert codebook(arrow[2][0]) == codebook(kmeans_fit(big, k=6, n_iters=2, checkpoint=False))


def test_semantic_pyramid_ks():
    """Auto-k is CONSTANT cell size (k ∝ n) and the pyramid shrinks by
    the branch factor per level until one broadcast probe suffices."""
    from graph_db_spark.operators.dedup import semantic_pyramid_ks

    assert semantic_pyramid_ks(0) == [8]  # floor
    assert semantic_pyramid_ks(1000) == [8]  # gate corpus: depth 1
    assert semantic_pyramid_ks(200_000) == [196, 4]
    ks = semantic_pyramid_ks(1_000_000_000)
    assert ks[0] == 976_563  # ceil(1e9 / 1024): cells stay ~1024 members
    assert all(a > b for a, b in zip(ks, ks[1:])) and ks[-1] <= 64
    assert len(ks) == 4  # a billion vectors route in 4 broadcast levels
    assert semantic_pyramid_ks(1000, cell_target=8, branch=5) == [125, 25, 5]


def test_semantic_dedup_tree_generalizes_exact_and_hier(spark, sf_dir):
    """The SemDeDup descent at depth 1 ([cent]: exact assignment) and at
    depth 2 ([cent, coarse]: the two-level hierarchical route) matches
    the hand-written DuckDB oracles of dedup_semantic_semdedup and
    dedup_semantic_semdedup_hier — independent SQL references of the
    exact and hierarchical routes — under tools/check_oracle.py's
    normalisation. Their constants (k=8, sample_mod=4, k'=3) do not
    depend on the scale factor."""
    import importlib.util
    import os

    import duckdb

    from graph_db_spark.queries import REGISTRY

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    n = 2 * con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    for name in ("dedup_semantic_semdedup", "dedup_semantic_semdedup_hier"):
        q = REGISTRY[name]
        got = check_oracle.normalize(q.build(spark, sf_dir).toPandas())
        want = check_oracle.normalize(con.sql(q.oracle).df())
        assert len(got[1]) == n, name  # one verdict per vector
        assert got == want, name


def test_semantic_dedup_default_entry_point(spark, sf_dir):
    """The obvious-name route (round-11 constant-cell auto-k): one frame
    in, k = max(8, ceil(n/1024)) sampled codebook + pyramid routing out —
    one verdict per vector, the planted twins overwhelmingly pruned, and
    the result identical to composing the pieces by hand with the same
    derived constants (depth 1 at this corpus: n=1000 → k=8 ≤ branch)."""
    from graph_db_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_tree_verdicts,
        semantic_pyramid_ks,
    )
    from graph_db_spark.operators.similarity import kmeans_fit

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x
            + F.lit(0.005) * (((d * 31 + F.col("vec_id")) % 5) - 2).cast("double"),
        ).alias("embedding"),
    )
    u = e.unionByName(pert)
    n = u.count()
    got = semantic_dedup(u, tau=0.99).collect()
    assert len(got) == n  # one verdict per vector
    pruned = sum(1 for r in got if r.pruned)
    # every co-assigned twin pair loses exactly one member; boundary
    # straddles are the only misses -> at least 80% of pairs pruned
    assert pruned >= 0.8 * (n // 2)

    ks = semantic_pyramid_ks(n)
    assert ks == [8]  # constant-cell rule at gate scale: depth 1
    cent = kmeans_fit(u, k=ks[0], n_iters=2, sample_target=max(10_000, 50 * ks[0]))
    manual = semantic_dedup_tree_verdicts(u, [cent], tau=0.99).collect()
    key = lambda rs: sorted((tuple(r) for r in rs), key=repr)  # noqa: E731
    assert key(got) == key(manual)


def test_label_curation_ops_flag_planted_mislabel(spark):
    """knn_label_agreement and label_centroid_margin on a separable
    two-cluster corpus with ONE planted mislabel: the mislabeled vector
    disagrees with its neighborhood vote and carries a negative centroid
    margin; every correctly-labeled vector agrees and margins positive.
    A zero-norm vector gets NULL knn_label/agree (no guess)."""
    from graph_db_spark.operators.similarity import (
        knn_label_agreement,
        label_centroid_margin,
    )

    rows = []
    for i in range(12):  # cluster A around (10, 0, 0)
        rows.append((i, [10.0 + (i % 3) * 0.1, float(i % 2) * 0.1, 0.0], 0))
    for i in range(12, 24):  # cluster B around (0, 10, 0)
        rows.append((i, [float(i % 2) * 0.1, 10.0 + (i % 3) * 0.1, 0.0], 1))
    rows[5] = (5, rows[5][1], 1)  # planted mislabel: A-geometry, B-label
    rows.append((99, [0.0, 0.0, 0.0], 0))  # zero-norm degenerate
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, label INT")
    cent = spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )

    got = {r.id: r for r in knn_label_agreement(df, cent, k=5).collect()}
    assert len(got) == 25
    assert got[5].agree is False and got[5].knn_label == 0
    assert got[99].knn_label is None and got[99].agree is None
    for i in list(range(5)) + list(range(6, 24)):
        assert got[i].agree is True, f"vector {i} should agree"
        assert got[i].n_neighbors == 5

    m = {r.id: r for r in label_centroid_margin(df).collect()}
    assert len(m) == 25
    assert m[5].margin is not None and m[5].margin < 0  # mislabel: rival wins
    assert m[5].rival_label == 0
    for i in list(range(5)) + list(range(6, 24)):
        assert m[i].margin > 0, f"vector {i} margin should be positive"
    assert m[99].own_cos is None and m[99].margin is None  # zero norm


def test_hard_negative_mining_finds_cross_label_neighbors(spark):
    """On the two-cluster labeled fixture with one planted mislabel
    (A-geometry, B-label), every cluster-A vector's rank-1 hard negative
    must be vector 5 (the only other-label vector in its cell), the
    mislabeled vector gets ALL its cell-mates as hard negatives ranked
    by cosine, and cluster-B vectors (whose cell holds no other-label
    member) emit no rows — no guesses. Ranks are dense 1..k and the
    (cos DESC, neg_id ASC) order is deterministic."""
    from graph_db_spark.operators.similarity import hard_negative_mining

    rows = []
    for i in range(12):  # cluster A around (10, 0, 0)
        rows.append((i, [10.0 + (i % 3) * 0.1, float(i % 2) * 0.1, 0.0], 0))
    for i in range(12, 24):  # cluster B around (0, 10, 0)
        rows.append((i, [float(i % 2) * 0.1, 10.0 + (i % 3) * 0.1, 0.0], 1))
    rows[5] = (5, rows[5][1], 1)  # planted mislabel: A-geometry, B-label
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, label INT")
    cent = spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    got = hard_negative_mining(df, cent, k=3, n_cells=2).collect()
    by_id: dict = {}
    for r in got:
        by_id.setdefault(r.id, []).append(r)
    # cluster A (label 0, cell 0): the only other-label cell-mate is 5
    for i in list(range(5)) + list(range(6, 12)):
        negs = by_id[i]
        assert len(negs) == 1 and negs[0].neg_id == 5 and negs[0].rank == 1
        assert negs[0].neg_label == 1 and negs[0].cos > 0.99
    # the mislabeled vector: 3 hard negatives, dense ranks, cos-desc
    m = sorted(by_id[5], key=lambda r: r.rank)
    assert [r.rank for r in m] == [1, 2, 3]
    assert all(r.neg_label == 0 for r in m)
    assert m[0].cos >= m[1].cos >= m[2].cos
    # cluster B vectors share a cell only with same-label members
    for i in range(12, 24):
        assert i not in by_id


def test_knn_label_agreement_composes_lazily_with_n_cells(spark):
    """With n_cells supplied, knn_label_agreement must run NO Spark job
    at plan-construction time (round-11 advice: the centroids.count()
    fallback would execute an unmaterialized kmeans_fit plan twice —
    once for the salt-factor count, once inside ivf_assign). Asserted
    via a job group: zero job ids registered during construction. The
    n_cells route must also produce identical rows to the count()
    fallback."""
    from graph_db_spark.operators.similarity import knn_label_agreement

    rows = [(i, [float(i % 7), float(i % 5), 1.0], i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>, label INT")
    cent = spark.createDataFrame(
        [(0, [6.0, 4.0, 1.0]), (1, [1.0, 1.0, 1.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )

    sc = spark.sparkContext
    group = "knn-lazy-probe"
    sc.setJobGroup(group, "plan construction must schedule nothing")
    try:
        lazy = knn_label_agreement(df, cent, k=3, n_cells=2)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"plan construction ran jobs: {jobs}"

    key = lambda rs: sorted((tuple(r) for r in rs), key=repr)  # noqa: E731
    fallback = knn_label_agreement(df, cent, k=3)
    assert key(lazy.collect()) == key(fallback.collect())


def test_split_stratified_holdout_deterministic(spark, sf_dir):
    """The stratified split is a pure function of (label, vec_id): two
    runs agree exactly, every label is split, and train+holdout = total
    per label (no row lost or double-counted)."""
    from graph_db_spark.queries import REGISTRY

    a = {r.label: r for r in REGISTRY["split_stratified_holdout"].build(spark, sf_dir).collect()}
    b = {r.label: r for r in REGISTRY["split_stratified_holdout"].build(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in a.items()} == {k: tuple(v) for k, v in b.items()}
    for r in a.values():
        assert r.n_train + r.n_holdout == r.n_vecs
    total = sum(r.n_vecs for r in a.values())
    held = sum(r.n_holdout for r in a.values())
    assert 0 < held < total  # ~10%: nonvacuous on the fixture


# ---------------------------------------------------------------------------
# Round 12: repeated-line removal, shard manifest, SCD2 intervals
# ---------------------------------------------------------------------------


def test_dedup_repeated_lines_drops_shared_segments(spark, tmp_path):
    """A 3-token segment shared by two docs is dropped from BOTH; unique
    segments survive and the reconstruction preserves original order."""
    from graph_db_spark.queries import REGISTRY

    rows = [
        # docs 1 and 2 share the segment "a b c" (positions differ);
        # every other segment is unique to its doc
        (1, "a b c x1 y1 z1"),
        (2, "p2 q2 r2 a b c"),
        (3, "u3 v3 w3 m3 n3 o3"),
    ]
    (
        spark.createDataFrame(rows, "doc_id LONG, text STRING")
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
        .withColumn("n_chars", F.length("text").cast("long"))
        .write.parquet(str(tmp_path / "documents.parquet"))
    )
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_repeated_lines"].build(spark, str(tmp_path)).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1]["n_lines"] == 2 and out[1]["n_dup_lines"] == 1
    assert out[1]["kept_tokens"] == 3
    assert out[1]["clean_md5"] == md5("x1 y1 z1")
    assert out[2]["n_dup_lines"] == 1 and out[2]["clean_md5"] == md5("p2 q2 r2")
    assert out[3]["n_dup_lines"] == 0
    # doc 3 keeps both segments in order
    assert out[3]["clean_md5"] == md5("u3 v3 w3 m3 n3 o3")


def test_shard_manifest_matches_global_running_sum(spark, sf_dir):
    """The two-level (bucket offset + within-bucket window) running sum
    must equal the naive global cumulative sum doc for doc, and shard
    token totals must respect the budget rule (every shard except
    possibly the last spans >= budget tokens from its first doc's start
    offset)."""
    from graph_db_spark.queries import REGISTRY

    got = (
        REGISTRY["shard_manifest_by_tokens"].build(spark, sf_dir)
        .orderBy("doc_id")
        .collect()
    )
    run = 0
    budget = 2048
    for r in got:
        assert r["shard_id"] == run // budget, r
        run += r["n_tok"]
    # shard ids are non-decreasing in doc order and start at 0
    sids = [r["shard_id"] for r in got]
    assert sids[0] == 0 and all(a <= b for a, b in zip(sids, sids[1:]))


def test_scd2_intervals_partition_user_history(spark, sf_dir):
    """Per user: intervals are chronological, non-overlapping, chain
    valid_to -> next valid_from, exactly one open interval, and the
    n_events total equals the user's event count."""
    from collections import defaultdict

    from graph_db_spark.queries import REGISTRY

    rows = REGISTRY["scd2_user_status_intervals"].build(spark, sf_dir).collect()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert set(by_user) == set(n_events)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: (r["valid_from"], r["event_type"]))
        opens = [r for r in ivs if r["valid_to"] is None]
        assert len(opens) == 1, uid
        assert sum(r["n_events"] for r in ivs) == n_events[uid]
        closed = [r for r in ivs if r["valid_to"] is not None]
        for r in closed:
            assert r["valid_from"] <= r["valid_to"], (uid, r)
        # the set of valid_to values = the set of non-first valid_from
        # values (intervals chain with no gaps)
        froms = sorted(r["valid_from"] for r in ivs)[1:]
        tos = sorted(r["valid_to"] for r in closed)
        assert froms == tos, uid


def test_incremental_dedup_new_batch_only(spark, tmp_path):
    """Only arrivals (doc_id >= cutoff) can be dropped; a store twin wins
    as canonical over a same-batch twin; store x store duplicates are
    ignored entirely."""
    from graph_db_spark.queries import REGISTRY

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    vbase = "v0 v1 v2 v3 v4 v5 v6 v7 v8 v9"
    rows = [
        # store (cutoff = 8): ids 0..7 — 0 and 1 are store-side twins
        # on a DISJOINT vocabulary (must NOT be reported), 2 matches
        # arrival 8
        (0, vbase + " s0"),
        (1, vbase + " s0"),
        (2, base + " s2"),
        (3, "u3 " * 12),
        (4, "u4 " * 12),
        (5, "u5 " * 12),
        (6, "u6 " * 12),
        (7, "u7 " * 12),
        # arrivals: 8 duplicates store doc 2; 9 duplicates 8 (same batch,
        # but its canonical must be the STORE doc 2 = min matching id)
        (8, base + " s2"),
        (9, base + " s2"),
    ]
    (
        spark.createDataFrame(rows, "doc_id LONG, text STRING")
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
        .withColumn("n_chars", F.length("text").cast("long"))
        .write.parquet(str(tmp_path / "documents.parquet"))
    )
    got = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_incremental_new_vs_store"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert set(got) == {8, 9}  # store twins 0/1 never surface
    assert got[8]["dup_of"] == 2 and got[8]["jaccard"] == 1.0
    assert got[9]["dup_of"] == 2  # store canonical beats same-batch 8
    assert got[9]["n_dups"] == 2  # matched both store 2 and arrival 8

    # Persisted-store route (round-12 verdict item 3): identical rows from
    # the signature-store path — store signatures read from parquet, store
    # text re-shingled only for surviving candidates.
    per = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_incremental_persisted_store"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert {k: tuple(v) for k, v in per.items()} == {
        k: tuple(v) for k, v in got.items()
    }


def test_prefix_filter_exact_recall_superset_of_lsh(spark, sf_dir):
    """Prefix filtering guarantees every jaccard >= t pair is a candidate
    (pigeonhole on the global df order); MinHash-LSH banding is
    probabilistic. At the same threshold the prefix route's verified
    pairs must therefore be a superset-or-equal of the LSH route's, and
    every common pair must carry the identical exact jaccard."""
    from graph_db_spark.operators.dedup import (
        lsh_candidate_pairs,
        jaccard_verify,
        minhash_signatures,
        prefix_filter_jaccard_pairs,
        shingles,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(d, "doc_id", "text", 0.7, 3).collect()
    }
    tok = shingles(d, "doc_id", "text", 3)
    lsh = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_verify(
            lsh_candidate_pairs(minhash_signatures(tok, 8), 8, 4), tok, 0.7
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k in lsh:
        assert lsh[k] == exact[k]
    assert exact, "fixture corpus has known near-dup pairs at 0.7"


def test_pq_adc_contract(spark, sf_dir):
    """PQ/ADC structural contract: exactly k rows per query, self never
    returned, adc = the sum of the query's two subspace table entries
    for the candidate's codes (recomputed independently here), and the
    per-query cut is (adc, nid)-sorted."""
    from graph_db_spark.operators.similarity import pq_adc_topk, pq_encode, pq_fit

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    books = pq_fit(e, m=2, n_codes=4, n_iters=2, sample_mod=4)
    got = pq_adc_topk(e, e.filter(F.col("vec_id") < 3), books, k=5).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["adc"], r["nid"]))
    assert set(by_q) == {0, 1, 2}
    for qid, rows_ in by_q.items():
        assert len(rows_) == 5
        assert rows_ == sorted(rows_)
        assert all(n != qid for _, n in rows_)
        assert all(a >= 0 for a, _ in rows_)

    # independent ADC recomputation for one (query, candidate) pair
    codes = {r["id"]: (r["c0"], r["c1"]) for r in pq_encode(e, books).collect()}
    cents = [
        {r["cell"]: r["cvec"] for r in cb.collect()} for cb in books
    ]
    qvecs = {r["vec_id"]: r["embedding"] for r in e.filter(F.col("vec_id") < 3).collect()}
    qid = 0
    adc0, nid0 = by_q[qid][0]
    qv = qvecs[qid]
    want = 0.0
    for s in (0, 1):
        sub = qv[s * 32 : (s + 1) * 32]
        cv = cents[s][codes[nid0][s]]
        want += round(sum((a - b) * (a - b) for a, b in zip(sub, cv)), 9)
    assert abs(round(want, 9) - adc0) < 1e-6


def test_ivfpq_contract(spark, sf_dir):
    """IVF-PQ = the full PQ/ADC ranking RESTRICTED to each query's probed
    coarse cells: every returned neighbor lies in a probed cell, carries
    the same adc the unpruned PQ scan assigns that pair, and the
    per-query list is the (adc, nid)-sorted head of the restricted
    candidate set."""
    from graph_db_spark.operators.similarity import (
        _sq_l2,
        ivfpq_adc_topk,
        kmeans_fit,
        pq_adc_topk,
        pq_fit,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    coarse = kmeans_fit(e, k=4, n_iters=2, sample_mod=4)
    books = pq_fit(e, m=2, n_codes=4, n_iters=2, sample_mod=4)
    qs = e.filter(F.col("vec_id") < 3)
    got = ivfpq_adc_topk(e, qs, coarse, books, k=5, n_probe=2).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["adc"], r["nid"]))
    for qid, rows_ in by_q.items():
        assert len(rows_) == 5 and rows_ == sorted(rows_)
        assert all(n != qid for _, n in rows_)

    # adc agreement with the unpruned scan (full PQ over the corpus,
    # k large enough to cover every returned pair)
    full = {
        (r["qid"], r["nid"]): r["adc"]
        for r in pq_adc_topk(e, qs, books, k=10_000).collect()
    }
    for r in got:
        assert full[(r["qid"], r["nid"])] == r["adc"]

    # probed-cell membership: recompute coarse assignment + probes
    cc = coarse.select(F.col("vec_id").alias("ccell"), F.col("embedding").alias("ccvec"))
    v = e.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    cells = {
        r["id"]: r["ccell"]
        for r in v.crossJoin(F.broadcast(cc))
        .withColumn("d", _sq_l2(F.col("vec"), F.col("ccvec")))
        .groupBy("id")
        .agg(F.min(F.struct("d", "ccell")).alias("mm"))
        .select("id", F.col("mm.ccell").alias("ccell"))
        .collect()
    }
    qcells = (
        qs.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .crossJoin(F.broadcast(cc))
        .withColumn("d", _sq_l2(F.col("vec"), F.col("ccvec")))
        .collect()
    )
    probe_sets: dict = {}
    for r in qcells:
        probe_sets.setdefault(r["id"], []).append((r["d"], r["ccell"]))
    probe_sets = {q: {c for _, c in sorted(v_)[:2]} for q, v_ in probe_sets.items()}
    for r in got:
        assert cells[r["nid"]] in probe_sets[r["qid"]], r


def test_degenerate_vectors_get_no_l2_assignment(spark):
    """A ragged vector and one with a NULL element have a NULL squared
    distance to every codeword. The shared L2 step drops them: they get
    no row from kmeans_assign or pq_encode (rather than being coded as
    the lowest cell, which struct-min's NULLs-first order would pick),
    so they never enter a PQ or IVF-PQ candidate set."""
    from graph_db_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_residual_topk,
        kmeans_assign,
        kmeans_fit,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    clean = [
        (i, [float((i * 3 + j * 5) % 7) - 3.0 + 10.0 * (i % 2) for j in range(4)])
        for i in range(16)
    ]
    bad = [(100, [1.0, 2.0, 3.0]), (101, [1.0, None, 2.0, 3.0])]
    schema = "vec_id LONG, embedding ARRAY<DOUBLE>"
    fit_df = spark.createDataFrame(clean, schema)
    df = spark.createDataFrame(clean + bad, schema)
    clean_ids = {i for i, _ in clean}

    coarse = kmeans_fit(fit_df, k=2, n_iters=2)
    books = pq_fit(fit_df, m=2, n_codes=2, n_iters=2)
    assert {r["id"] for r in kmeans_assign(df, coarse).collect()} == clean_ids
    assert {r["id"] for r in pq_encode(df, books).collect()} == clean_ids

    qs = fit_df.filter(F.col("vec_id") < 3)
    full = pq_adc_topk(df, qs, books, k=10_000).collect()
    for q in range(3):
        assert {r["nid"] for r in full if r["qid"] == q} == clean_ids - {q}
    ivf = ivfpq_adc_topk(df, qs, coarse, books, k=10_000, n_probe=2).collect()
    res = ivfpq_residual_topk(
        df, qs, coarse, k=10_000, n_probe=2, m=2, n_codes=2, n_iters=2
    ).collect()
    for got in (ivf, res):
        assert got and {r["nid"] for r in got} <= clean_ids


def test_ivfpq_residual_recall_beats_raw(spark):
    """Residual encoding is the recall rung above raw-vector IVF-PQ
    (round-13 verdict item 3): on a planted 4-cluster fixture where raw
    PQ's 4 codewords per subspace are spent telling CLUSTERS apart
    (collapsing within-cluster neighbors to one code, adc ties broken
    arbitrarily by nid), PQ over residuals v − coarse_centroid spends
    the same budget on the within-cluster offsets and recovers the true
    top-5 exactly. Everything is RNG-free, so the readings are pinned:
    residual recall 1.0, raw 0.4."""
    from graph_db_spark.operators.similarity import (
        ivfpq_adc_topk,
        ivfpq_residual_topk,
        kmeans_fit,
        pq_fit,
    )

    # ids interleaved (id = i*4 + c) so the 4 smallest ids — the sampled
    # init's seeds — land one per planted cluster
    rows = []
    for i in range(24):
        for c in range(4):
            center = [100.0 * (c + 1) if j % 4 == c else 0.0 for j in range(8)]
            off = [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]
            rows.append((i * 4 + c, [a + b for a, b in zip(center, off)]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qs = df.filter(F.col("vec_id") < 4)
    coarse = kmeans_fit(df, k=4, n_iters=2, sample_mod=1)
    books = pq_fit(df, m=2, n_codes=4, n_iters=2, sample_mod=1)
    raw = ivfpq_adc_topk(df, qs, coarse, books, k=5, n_probe=2).collect()
    res = ivfpq_residual_topk(
        df, qs, coarse, k=5, n_probe=2, m=2, n_codes=4, n_iters=2, sample_mod=1
    ).collect()

    vecs = dict(rows)

    def true_topk(q, k=5):
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[q], v)), n)
            for n, v in vecs.items()
            if n != q
        )
        return {n for _, n in d[:k]}

    def recall(got):
        by: dict = {}
        for r in got:
            by.setdefault(r["qid"], set()).add(r["nid"])
        return sum(len(by.get(q, set()) & true_topk(q)) / 5 for q in range(4)) / 4

    r_raw, r_res = recall(raw), recall(res)
    assert r_res >= r_raw
    assert r_res == 1.0
    assert r_raw == 0.4  # the gap the residual refinement buys


def test_ivfpq_residual_persisted_equals_inquery(spark, tmp_path):
    """The persisted residual-code index (round-15: the production rung
    ``ivfpq_residual_topk``'s docstring names) serves results
    BIT-IDENTICAL to the in-query route at equal parameters — the store
    caches a pure function of the corpus (coarse assignment, residuals,
    PQ books, codes), so the two plans must return the same frame. Also
    pins the store layout contract: codes/ partitioned by ccell."""
    import os

    from graph_db_spark.operators.similarity import (
        ivfpq_residual_store_write,
        ivfpq_residual_topk,
        ivfpq_residual_topk_persisted,
        kmeans_fit,
    )

    rows = []
    for i in range(24):
        for c in range(4):
            center = [100.0 * (c + 1) if j % 4 == c else 0.0 for j in range(8)]
            off = [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]
            rows.append((i * 4 + c, [a + b for a, b in zip(center, off)]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qs = df.filter(F.col("vec_id") < 4)
    store = str(tmp_path / "ivfpq_store")
    ivfpq_residual_store_write(
        df, store, coarse_k=4, m=2, n_codes=4, n_iters=2, sample_mod=1
    )
    assert any(
        d.startswith("ccell=") for d in os.listdir(os.path.join(store, "codes"))
    ), "codes table must be partitioned by coarse cell"
    coarse = kmeans_fit(df, k=4, n_iters=2, sample_mod=1)
    inquery = ivfpq_residual_topk(
        df, qs, coarse, k=5, n_probe=2, m=2, n_codes=4, n_iters=2, sample_mod=1
    )
    persisted = ivfpq_residual_topk_persisted(spark, store, qs, k=5, n_probe=2)
    key = lambda r: (r["qid"], r["nid"])  # noqa: E731
    got_in = sorted(inquery.collect(), key=key)
    got_st = sorted(persisted.collect(), key=key)
    assert [tuple(r) for r in got_in] == [tuple(r) for r in got_st]
    assert len(got_st) == 4 * 5


def test_prefix_filter_equals_bruteforce_all_pairs(spark):
    """The exactness property LSH cannot have: on an adversarial
    small-alphabet corpus (heavy shingle sharing, df ties, twin docs,
    sub-k shorties), the prefix-filter route's verified pairs equal the
    BRUTE-FORCE all-pairs jaccard >= t set exactly — same pairs, same
    6dp jaccards."""
    from graph_db_spark.operators.dedup import prefix_filter_jaccard_pairs

    words = [f"w{i}" for i in range(7)]
    rows = []
    for i in range(30):
        toks = [words[(i * 3 + j * (1 + i % 4)) % 7] for j in range(8)]
        rows.append((i, " ".join(toks)))
    rows.append((100, rows[4][1]))            # exact twin of doc 4
    rows.append((101, rows[7][1] + " w0"))    # near twin of doc 7
    rows.append((102, "w1 w2"))               # sub-k: no shingles

    def shingle_set(text, k=3):
        t = text.split()
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)} if len(t) >= k else set()

    t = 0.7
    want = {}
    for (ia, ta), (ib, tb) in (
        ((a, b) for a in rows for b in rows if a[0] < b[0])
    ):
        sa, sb = shingle_set(ta), shingle_set(tb)
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        uni = len(sa | sb)
        if inter >= t * uni:
            want[(ia, ib)] = round(inter / uni, 6)

    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "text", t, 3).collect()
    }
    assert got == want
    assert (4, 100) in got and got[(4, 100)] == 1.0


def test_containment_prefix_equals_bruteforce_all_pairs(spark):
    """The containment join's exactness, including the regime LSH
    structurally misses: a SHORT doc quoted wholesale inside a LONG one
    (containment 1.0, Jaccard tiny). Prefix-vs-full candidates + verify
    must equal brute-force all-pairs containment >= t exactly."""
    from graph_db_spark.operators.dedup import prefix_filter_containment_pairs

    words = [f"w{i}" for i in range(9)]
    rows = []
    for i in range(24):
        toks = [words[(i * 5 + j * (1 + i % 3)) % 9] for j in range(10)]
        rows.append((i, " ".join(toks)))
    # a short doc and a long doc QUOTING it verbatim (LSH's blind spot)
    quote = "w0 w3 w6 w1 w4"
    rows.append((200, quote))
    rows.append((201, " ".join(f"z{j}" for j in range(40)) + " " + quote))
    rows.append((202, rows[3][1]))  # exact twin

    def shingle_set(text, k=3):
        t = text.split()
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)} if len(t) >= k else set()

    t = 0.8
    want = {}
    for (ia, ta), (ib, tb) in ((a, b) for a in rows for b in rows if a[0] < b[0]):
        sa, sb = shingle_set(ta), shingle_set(tb)
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter >= t * min(len(sa), len(sb)):
            want[(ia, ib)] = round(inter / min(len(sa), len(sb)), 6)

    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["a"], r["b"]): r["containment"]
        for r in prefix_filter_containment_pairs(df, "doc_id", "text", t, 3).collect()
    }
    assert got == want
    # the quote pair is caught with containment 1.0 despite tiny Jaccard
    assert got[(200, 201)] == 1.0
    assert (3, 202) in got and got[(3, 202)] == 1.0


def test_semantic_incremental_store_catches_planted_twins(spark, sf_dir):
    """The persisted semantic index route: perturbed twins of even store
    vectors must be caught with their ORIGINAL as canonical (store beats
    same-batch); only arrivals may appear; reversed 'novel' arrivals are
    allowed through except where reversal happens to stay tau-close."""
    from graph_db_spark.queries import REGISTRY

    rows = REGISTRY["dedup_semantic_incremental_store"].build(spark, sf_dir).collect()
    assert rows, "no verdicts at all — the planted twins must be caught"
    assert all(r["vec_id"] >= 100000 for r in rows)  # store never dropped
    pert = [r for r in rows if 100000 <= r["vec_id"] < 200000]
    # ~all perturbed twins are caught, canonical = their store original
    exact = sum(
        1 for r in pert if r["dup_of"] == r["vec_id"] - 100000 and r["cos"] >= 0.99
    )
    assert exact >= 0.9 * len(pert) and len(pert) > 0
    # the cached store path serves the second call (build-once publish)
    import os

    from graph_db_spark.queries import ensure_semantic_store

    p1 = ensure_semantic_store(spark, sf_dir)
    p2 = ensure_semantic_store(spark, sf_dir)
    assert p1 == p2 and os.path.isdir(os.path.join(p1, "members"))


def test_incremental_dedup_persisted_matches_recompute(spark, sf_dir):
    """Route equality on the real fixture corpus: the persisted
    signature-store plan and the full-recompute plan must produce the
    same (doc_id, dup_of, jaccard, n_dups) rows — persisting the store's
    MinHash index changes where signatures come from, never what they
    are. Also pins the batch plan's shape: the candidate join broadcasts
    the ARRIVALS side, so the store's band table is scanned, not
    shuffled, and never re-signed."""
    from graph_db_spark.plans import explain_str
    from graph_db_spark.queries import REGISTRY

    rec = REGISTRY["dedup_incremental_new_vs_store"].build(spark, sf_dir)
    per = REGISTRY["dedup_incremental_persisted_store"].build(spark, sf_dir)
    assert sorted(map(tuple, rec.collect())) == sorted(map(tuple, per.collect()))

    # Plan shape, on the uncheckpointed form (the default localCheckpoint
    # cut hides the candidate subtree behind an ExistingRDD): arrivals
    # bands broadcast, store bands read from the persisted parquet — no
    # store-side min(md5(...)) signature agg anywhere.
    from graph_db_spark.operators.dedup import incremental_near_dup_vs_store
    from graph_db_spark.queries import (
        _parquet_rows,
        ensure_signature_store,
    )
    from pyspark.sql import functions as F

    n = _parquet_rows(sf_dir, "documents")
    cutoff = (n * 8) // 10
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_path = ensure_signature_store(spark, sf_dir, cutoff)
    raw = incremental_near_dup_vs_store(
        spark,
        store_path,
        arrivals=d.filter(F.col("doc_id") >= cutoff),
        store_docs=d.filter(F.col("doc_id") < cutoff),
        threshold=0.7,
        checkpoint=False,
    )
    plan = explain_str(raw)
    assert "BroadcastHashJoin" in plan, plan
    assert "sig_stores" in plan, plan


def test_cluster_best_quality_keeps_best_member_not_min_id(spark, tmp_path):
    """The quality-aware survivor policy must differ from min-id
    canonicalization exactly when the better copy has the higher id: a
    planted twin pair (5 = the same text DOUBLED — half the distinct
    ratio, quality 0.7; 6 = the clean single copy, quality 0.9) must
    keep doc 6 and drop doc 5, while the cluster LABEL stays the min id
    (5). Singletons all keep."""
    from graph_db_spark.queries import REGISTRY

    base = " ".join(f"w5x{j}" for j in range(100))
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(100))) for i in range(5)]
    rows.append((5, base + " " + base))  # doubled: distinct ratio 0.5
    rows.append((6, base))               # clean twin, higher id
    for i in range(7, 12):
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(100))))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    got = {r.doc_id: r for r in REGISTRY["dedup_cluster_best_quality"].build(spark, sf).collect()}
    assert len(got) == 12
    assert got[5].cluster_id == 5 and got[6].cluster_id == 5
    assert got[6].keep is True and got[5].keep is False  # best quality wins
    assert got[6].quality > got[5].quality
    for i in list(range(5)) + list(range(7, 12)):
        assert got[i].keep is True and got[i].cluster_id == i


def test_round_fold_identical_to_unfolded(spark, monkeypatch):
    """The round-17 _ROUND_FOLD=2 job folding must be invisible to
    results: every folded loop re-run with _ROUND_FOLD=1 (the exact
    pre-fold loops) must return bit-identical frames — including kcore's
    logical round count, whose exactness rests on the mid-plan probe
    observation. The 9-vertex graph below converges mid-fold for cc
    (odd round count) and peels to EMPTY for kcore k=3, covering the
    recount of the inner round that AQE's empty-relation propagation
    may prune along with its observation."""
    from pyspark.sql.classic.dataframe import DataFrame

    import graph_db_spark.pregel as pregel

    # two components: a 6-chain (0..5, cc converges in an odd number of
    # min-label rounds) and a triangle 6-7-8 with pendant 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (6, 7), (7, 8), (8, 6), (8, 9)],
        "src LONG, dst LONG",
    )
    verts = spark.createDataFrame([(i,) for i in range(10)], "id LONG")
    w_edges = edges.withColumn("weight", (F.col("src") % 3 + 1).cast("double"))
    src = spark.createDataFrame([(0,)], "id LONG")

    # count() calls made INSIDE kcore: the only one is the recount of an
    # inner round's edges when a fold ends empty
    recounts = []
    count = DataFrame.count

    def counting(df):
        recounts.append(df)
        return count(df)

    def run_all():
        cc = sorted(map(tuple, pregel.connected_components(verts, edges).collect()))
        sp = sorted(map(tuple, pregel.shortest_paths(w_edges, src).collect()))
        pr = sorted(map(tuple, pregel.pagerank(verts, edges, n_iters=5).collect()))
        lp = sorted(map(tuple, pregel.label_propagation(edges, n_iters=3).collect()))
        k2, r2 = pregel.kcore(edges, k=2)
        recounts.clear()
        monkeypatch.setattr(DataFrame, "count", counting)
        k3, r3 = pregel.kcore(edges, k=3)
        monkeypatch.setattr(DataFrame, "count", count)
        fallbacks = len(recounts)
        return (cc, sp, pr, lp, sorted(map(tuple, k2.collect())), r2, k3.count(), r3), fallbacks

    folded, folded_fallbacks = run_all()
    monkeypatch.setattr(pregel, "_ROUND_FOLD", 1)
    unfolded, unfolded_fallbacks = run_all()
    assert folded == unfolded
    assert folded[6] == 0  # k=3 core empty
    # ...so the fold ended empty and its inner round was recounted
    assert folded_fallbacks == 1
    assert unfolded_fallbacks == 0  # unfolded: no inner rounds to recount
