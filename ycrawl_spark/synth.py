"""Deterministic synthetic fixtures: image+caption table and URL frontier.

Single source of truth for row derivation — both the Spark engine
(via distributed mapInPandas over ``spark.range``) and the pure-Python
reference-semantics simulator (sim/reference_sim.py) call the same
pure functions, so crawl-order / seen-set equivalence is meaningful.

Reference analogs:
  - frontier rows {key, url} from config cross-products,
    /root/reference/Coordinator/main.py:34-61;
  - sequence key "{date}_{H}{n:04d}", Coordinator/main.py:28-31;
  - fetched payload envelope, Worker/node_handler.js:14-19.

The 10^10-URL frontier is only ever *virtual*: ``spark.range(n)`` plus
these generators — ids are never materialized driver-side.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from . import codecs
from .config import CrawlConfig
from .hashing import xxh64_str

BASE_TS = 1_750_000_000  # fixed epoch base for discovered_ts (no wall clock)

FRONTIER_SCHEMA = (
    "key string, url string, canonical_host string, host_bucket int, "
    "priority int, depth int, discovered_ts timestamp, image_id string, "
    "epoch_added int, robots_ok boolean"
)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def image_id_for(i: int) -> str:
    return f"img_{i:08d}"


def host_index(image_id: str, cfg: CrawlConfig) -> int:
    """Zipf-ish skewed host assignment: u^a concentrates mass near host 0."""
    u = xxh64_str(f"host:{image_id}:{cfg.seed}") / float(1 << 64)
    return min(cfg.n_hosts - 1, int(cfg.n_hosts * (u**cfg.zipf_a)))


def frontier_row(i: int, cfg: CrawlConfig) -> dict:
    """Pure derivation of frontier row ``i`` — shared engine/simulator."""
    image_id = image_id_for(i)
    hidx = host_index(image_id, cfg)
    host = f"host{hidx:03d}.example.com"
    private = xxh64_str(f"path:{image_id}:{cfg.seed}") % 20 == 0
    path = "/private/" if private else "/img/"
    url = f"https://{host}{path}{image_id}"
    robots_ok = not any(path.startswith(d) for d in cfg.robots_disallow)
    h = xxh64_str(f"sched:{image_id}:{cfg.seed}")
    return {
        "key": f"{cfg.date_str}_H{i + 1:04d}",  # exact reference key format
        "url": url,
        "canonical_host": host,
        "host_bucket": hidx % cfg.n_buckets,
        "priority": int(h % 4),
        "depth": int((h >> 8) % 5),
        "discovered_ts": pd.Timestamp(BASE_TS + i, unit="s"),
        "image_id": image_id,
        "epoch_added": 0,
        "robots_ok": robots_ok,
    }


def frontier_pdf(cfg: CrawlConfig, start: int = 0, stop: int | None = None) -> pd.DataFrame:
    stop = cfg.seed_urls if stop is None else stop
    return pd.DataFrame([frontier_row(i, cfg) for i in range(start, stop)])


def frontier_df(spark, cfg: CrawlConfig):
    """Distributed SEED-frontier build: range → mapInPandas (no driver
    rows). Covers ids [0, cfg.seed_urls); with discovery enabled the
    rest of the id space enters via ``discovered_rows_df``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([frontier_row(int(i), cfg) for i in b["id"]])

    n_parts = max(8, cfg.seed_urls // 50_000)
    return (
        spark.range(0, cfg.seed_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=FRONTIER_SCHEMA)
    )


def child_ids(image_id: str, cfg: CrawlConfig) -> list[int]:
    """Deterministic out-links of a successfully fetched page — the
    sandbox's href extraction (no network: link structure is a pure
    hash function, reproducible by engine and simulator alike).
    0..discovery_fanout distinct child ids over the FULL id space
    [0, n_urls); sorted for a stable iteration order."""
    if not cfg.discovery_fanout:
        return []
    k = xxh64_str(f"links:{image_id}:{cfg.seed}") % (cfg.discovery_fanout + 1)
    return sorted({
        xxh64_str(f"link:{image_id}:{j}:{cfg.seed}") % cfg.n_urls
        for j in range(k)
    })


def discovered_row(i: int, depth: int, epoch: int, cfg: CrawlConfig) -> dict:
    """Frontier row for a DISCOVERED url: same pure per-id derivation as
    a seed row (url/host/priority/robots depend only on the id) except
    the crawl dynamics — depth comes from the discovering parent
    (1 + min parent depth in the first discovering epoch),
    discovered_ts sits past the whole seed range (children are found
    later than any seed), and epoch_added records provenance."""
    row = frontier_row(i, cfg)
    row["depth"] = int(depth)
    row["discovered_ts"] = pd.Timestamp(BASE_TS + cfg.n_urls + i, unit="s")
    row["epoch_added"] = int(epoch)
    return row


def images_df(spark, cfg: CrawlConfig, with_bytes: bool = True):
    """Distributed image-table build with the exact input_hint schema.

    ``with_bytes=False`` nulls the payload column (metadata — dims,
    caption, phash — is still derived from fully encoded+decoded
    pixels): the crawl's validation join never reads ``bytes``, so
    benchmark setup skips materializing multi-GB payloads that no
    query would touch. Correctness tests keep the default."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [codecs.make_image_row(image_id_for(int(i))) for i in b["id"]]
            if not with_bytes:
                for r in rows:
                    r["bytes"] = None
            yield pd.DataFrame(rows)

    n_parts = max(8, cfg.n_urls // 10_000)
    return (
        spark.range(0, cfg.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


def make_near_dup_image_row(i: int, dup_every: int) -> dict:
    """Image row ``i``; every ``dup_every``-th row (i % dup_every == 1)
    is a planted NEAR-DUPLICATE of row ``i-1``: the base pixels with one
    8×8-grid block brightened. The perturbation flips the touched
    block's phash bit plus the handful of borderline blocks the raised
    global mean crosses — hamming distance is small (typically 1-5)
    while unrelated noise images sit ~32 bits apart, so a phash-hamming
    threshold separates planted pairs from chance cleanly.

    Same derivation here and in the test's brute-force oracle — the
    distributed LSH result is compared against exact all-pairs hamming
    on identical inputs.
    """
    image_id = image_id_for(i)
    if i % dup_every != 1 or i == 1:
        row = codecs.make_image_row(image_id)
        row["dup_of"] = None
        return row
    base_id = image_id_for(i - 1)
    w, h = codecs.gen_dims(base_id)
    px = codecs.gen_pixels(base_id, w, h).copy()
    bh, bw = h // 8, w // 8
    r = xxh64_str(f"perturb:{image_id}")
    bi, bj = r % 8, (r >> 8) % 8
    region = px[bi * bh:(bi + 1) * bh, bj * bw:(bj + 1) * bw]
    px[bi * bh:(bi + 1) * bh, bj * bw:(bj + 1) * bw] = np.clip(
        region.astype(np.int16) + 24, 0, 255
    ).astype(np.uint8)
    fmt = codecs.gen_fmt(image_id)
    data = codecs.encode(px, fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": codecs.gen_caption(base_id),  # dup keeps base caption
        "phash": codecs.phash64(codecs.decode(data)),
        "dup_of": base_id,
    }


NEAR_DUP_IMAGES_SCHEMA = IMAGES_SCHEMA + ", dup_of string"


def near_dup_images_df(spark, cfg: CrawlConfig, dup_every: int = 4):
    """Image table with planted near-duplicates (distributed build, same
    shape as ``images_df`` plus a ``dup_of`` provenance column the
    dedup tests use as ground truth)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                [make_near_dup_image_row(int(i), dup_every) for i in b["id"]]
            )

    n_parts = max(8, cfg.n_urls // 10_000)
    return (
        spark.range(0, cfg.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=NEAR_DUP_IMAGES_SCHEMA)
    )


BORDERED_IMAGES_SCHEMA = IMAGES_SCHEMA + ", pad_top int, pad_left int"


def make_bordered_image_row(i: int) -> dict:
    """Image row ``i`` letterboxed/pillarboxed: the base pixels wrapped
    in a constant-black border of deterministic per-image thickness
    (0-6 px per axis, independent top/bottom vs left/right — ~1/7 of
    images get none on an axis, so the no-border branch carries mass).
    Every codec here keeps a constant border bit-uniform through the
    encode/decode round trip (lossy quantization maps a constant to a
    constant), so exact uniform-run detection is the correct decoder-
    side recovery. ``pad_top``/``pad_left`` are the ground truth the
    border-crop test pins against."""
    image_id = image_id_for(i)
    w, h = codecs.gen_dims(image_id)
    px = codecs.gen_pixels(image_id, w, h)
    r = xxh64_str(f"border:{image_id}")
    ty, tx = r % 7, (r >> 8) % 7
    padded = np.pad(px, ((ty, ty), (tx, tx), (0, 0)), constant_values=0)
    fmt = codecs.gen_fmt(image_id)
    data = codecs.encode(padded, fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w + 2 * tx,
        "h": h + 2 * ty,
        "fmt": fmt,
        "caption": codecs.gen_caption(image_id),
        "phash": codecs.phash64(codecs.decode(data)),
        "pad_top": ty,
        "pad_left": tx,
    }


def bordered_images_df(spark, cfg: CrawlConfig):
    """Image table with planted letterbox/pillarbox borders (distributed
    build; ``images_df`` shape plus pad ground-truth columns)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([make_bordered_image_row(int(i)) for i in b["id"]])

    n_parts = max(8, cfg.n_urls // 10_000)
    return (
        spark.range(0, cfg.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=BORDERED_IMAGES_SCHEMA)
    )


BLURRED_IMAGES_SCHEMA = IMAGES_SCHEMA + ", is_blurred int"


def make_blurred_image_row(i: int) -> dict:
    """Image row ``i``; every third row (i % 3 == 0) is DEFOCUSED: the
    base pixels passed through a 3×3 box blur (edge-replicate padding,
    rounded back to uint8) before encoding. The synthetic base pixels
    are photographic-noise-like, so the blur collapses the Laplacian
    response by ~50× (measured: sharp lap_var ≥ 31k, blurred ≤ 0.8k
    across all codecs incl. lossy) — ``is_blurred`` is the ground truth
    the blur-audit test pins recall/precision against."""
    image_id = image_id_for(i)
    w, h = codecs.gen_dims(image_id)
    px = codecs.gen_pixels(image_id, w, h)
    blurred = i % 3 == 0
    if blurred:
        p = np.pad(px.astype(np.float64), ((1, 1), (1, 1), (0, 0)),
                   mode="edge")
        acc = sum(p[1 + dy:p.shape[0] - 1 + dy, 1 + dx:p.shape[1] - 1 + dx]
                  for dy in (-1, 0, 1) for dx in (-1, 0, 1))
        px = np.clip(np.round(acc / 9.0), 0, 255).astype(np.uint8)
    fmt = codecs.gen_fmt(image_id)
    data = codecs.encode(px, fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": codecs.gen_caption(image_id),
        "phash": codecs.phash64(codecs.decode(data)),
        "is_blurred": int(blurred),
    }


def blurred_images_df(spark, cfg: CrawlConfig):
    """Image table with planted 3×3-box-blurred rows (distributed build;
    ``images_df`` shape plus the ``is_blurred`` ground-truth column)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([make_blurred_image_row(int(i)) for i in b["id"]])

    n_parts = max(8, cfg.n_urls // 10_000)
    return (
        spark.range(0, cfg.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=BLURRED_IMAGES_SCHEMA)
    )


def robots_txt_for(host: str, cfg: CrawlConfig) -> str:
    """Deterministic per-host robots.txt exercising the grammar the
    parser covers: a decoy group for another crawler (must NOT apply),
    comments, blank lines, the cfg-level disallows for ``*``, a
    host-specific extra prefix on every third host, and the empty
    ``Disallow:`` (allow-all, must parse to no rule) on every fifth.
    """
    h = xxh64_str(f"robots:{host}:{cfg.seed}")
    lines = [
        "# synthetic robots fixture",
        "User-agent: otherbot",
        "Disallow: /",
        "",
        "User-agent: *",
    ]
    lines += [f"Disallow: {d}" for d in cfg.robots_disallow]
    if h % 3 == 0:
        lines.append(f"Disallow: /img/img_0000  # hot shard carve-out")
    if h % 5 == 0:
        lines.append("Disallow:")
    return "\n".join(lines) + "\n"


def robots_pdf(cfg: CrawlConfig) -> pd.DataFrame:
    rows = [
        {"host": f"host{hidx:03d}.example.com"}
        for hidx in range(cfg.n_hosts)
    ]
    for r in rows:
        r["robots_txt"] = robots_txt_for(r["host"], cfg)
    return pd.DataFrame(rows)


def politeness_pdf(cfg: CrawlConfig) -> pd.DataFrame:
    """Per-host budgets (FIXTURES.md §5). Deterministic mild variation."""
    rows = []
    for hidx in range(cfg.n_hosts):
        host = f"host{hidx:03d}.example.com"
        bump = xxh64_str(f"budget:{host}:{cfg.seed}") % 3  # 0..2 extra slots
        rows.append(
            {
                "canonical_host": host,
                "max_per_epoch": cfg.default_budget_per_host + int(bump),
                "delay_target": 0.0,
                "robots_disallow": list(cfg.robots_disallow),
            }
        )
    return pd.DataFrame(rows)


def corrupted_images_df(spark, cfg: CrawlConfig,
                        bitrot_every: int = 17,
                        lie_every: int = 23):
    """images_df with deterministic planted integrity faults for the
    audit operator: every ``bitrot_every``-th row (i % bitrot_every
    == 3) has the tail quarter of its payload bit-inverted past the
    header (silent storage corruption — decode may still succeed with
    wrong pixels, or fail outright), and every ``lie_every``-th row
    (i % lie_every == 5) keeps its payload intact but declares a
    falsified phash (metadata lie). Ground truth ``fault`` column:
    '' | 'bitrot' | 'lie' (a row hit by both counts as bitrot)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in (int(v) for v in b["id"]):
                r = codecs.make_image_row(image_id_for(i))
                r["fault"] = ""
                if i % bitrot_every == 3:
                    data = bytearray(r["bytes"])
                    start = max(32, (3 * len(data)) // 4)
                    for j in range(start, len(data)):
                        data[j] ^= 0xFF
                    r["bytes"] = bytes(data)
                    r["fault"] = "bitrot"
                elif i % lie_every == 5:
                    v = (int(r["phash"]) & ((1 << 64) - 1)) ^ (1 << (i % 64))
                    # wrap back to the signed-int64 view Arrow expects
                    r["phash"] = v - (1 << 64) if v >= (1 << 63) else v
                    r["fault"] = "lie"
                rows.append(r)
            yield pd.DataFrame(rows)

    n_parts = max(8, cfg.n_urls // 10_000)
    return (
        spark.range(0, cfg.n_urls, numPartitions=n_parts)
        .mapInPandas(gen, schema=IMAGES_SCHEMA + ", fault string")
    )


def video_scene_plan(v: int, n_scenes: int = 3) -> list[str]:
    """Scene id per frame of video ``v`` — the planted dedup ground
    truth. Scenes repeat within a video (static runs: s0 s0 s0 s1 s1
    s2) and every 4th video (v % 4 == 1) OPENS with the previous
    video's first scene — the duplicated-clip / shared-intro signal a
    video corpus dedup must find. Pure function shared by the engine
    fixture and the test oracle."""
    scenes = [f"scene:{v}:{s}" for s in range(n_scenes)]
    if v % 4 == 1 and v > 0:
        scenes[0] = f"scene:{v - 1}:0"
    plan = []
    # run lengths n_scenes..1 — every scene appears (n_scenes=3 gives
    # the original 3,2,1 layout; larger ladders scale instead of
    # silently truncating)
    for rep, sid in zip(range(n_scenes, 0, -1), scenes):
        plan += [sid] * rep
    return plan


def videos_df(spark, cfg: CrawlConfig, n_videos: int | None = None,
              w: int = 32, h: int = 24):
    """Deterministic Y4M video table (video_id, bytes, n_frames):
    frames are per-scene noise images repeated per video_scene_plan —
    real YUV4MPEG2 containers (codecs.encode_y4m C444), decoded by the
    real parser on the read side."""
    n_videos = n_videos or max(16, cfg.n_urls // 25)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for v in (int(i) for i in b["id"]):
                plan = video_scene_plan(v)
                frames = [codecs.gen_pixels(sid, w, h) for sid in plan]
                rows.append({
                    "video_id": f"vid_{v:06d}",
                    "bytes": codecs.encode_y4m(frames, colorspace="C444"),
                    "n_frames": len(plan),
                })
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_videos, numPartitions=8)
        .mapInPandas(gen, schema="video_id string, bytes binary, n_frames int")
    )


def audio_segment_plan(c: int, n_segments: int = 6) -> list[int]:
    """Square-wave amplitude per segment of clip ``c`` (0 = silence):
    deterministic alternation seeded by xxh64 — the planted VAD ground
    truth, shared by the engine fixture and the test oracle. A
    ±amp square wave makes every sample² = amp², so a window's exact
    integer energy is amp² — bit-checkable with no float tolerance."""
    amps = []
    for s in range(n_segments):
        h = xxh64_str(f"aud:{c}:{s}")
        amps.append(0 if h % 3 == 0 else 1000 + h % 9000)
    return amps


def audio_df(spark, cfg: CrawlConfig, n_clips: int | None = None,
             seg_samples: int = 1024, sample_rate: int = 16000):
    """Deterministic WAV clip table (clip_id, bytes, sample_rate):
    per-segment constant-amplitude square waves and silence per
    ``audio_segment_plan`` — real RIFF containers via codecs.encode_wav,
    decoded by the real RIFF walk on the read side. Segment length ==
    the energy-window length, so window boundaries align with planted
    segments."""
    n_clips = n_clips or max(16, cfg.n_urls // 25)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for c in (int(i) for i in b["id"]):
                t = np.arange(seg_samples)
                sq = ((t % 2) * 2 - 1)  # +1/-1 alternating
                pcm = np.concatenate([
                    (amp * sq).astype(np.int16)
                    for amp in audio_segment_plan(c)
                ])
                rows.append({
                    "clip_id": f"clip_{c:06d}",
                    "bytes": codecs.encode_wav(pcm, sample_rate),
                    "sample_rate": sample_rate,
                })
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_clips, numPartitions=8)
        .mapInPandas(gen, schema="clip_id string, bytes binary, sample_rate int")
    )


GRADIENT_IMAGES_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def _gradient_params(image_id: str) -> tuple[int, int, int, int, int, str]:
    """Deterministic image parameters an ANSI-SQL oracle can replicate:
    every number folds out of ``md5(image_id)`` hex chars via ascii
    arithmetic (the ``_ascii_fold7`` construction in queries.py — the
    only integer-from-md5 both Spark/DuckDB and Python evaluate
    identically). Pixels follow the analytic ramp
    ``v(y, x) = (a·x + b·y + c) mod 256`` on all three channels, so any
    pixel statistic (patch sums, means) has a closed form a SQL engine
    can recompute WITHOUT a decoder — which is what lets the real
    decode → patchify path be value-gated against DuckDB
    (VERDICT r04 #8). Formats restricted to the lossless pair
    (raw/ppm): the oracle predicts exact pixels."""
    import hashlib

    o = [ord(ch) for ch in hashlib.md5(image_id.encode()).hexdigest()]
    w = 24 + (o[0] * 256 + o[1]) % 41
    h = 24 + (o[2] * 256 + o[3]) % 37
    a = 3 + o[4] % 5
    b = 7 + o[5] % 5
    c = (o[0] + 13 * o[4]) % 256
    fmt = "raw" if o[6] % 2 == 0 else "ppm"
    return w, h, a, b, c, fmt


def _gradient_pixels(w: int, h: int, a: int, b: int, c: int) -> np.ndarray:
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    v = ((a * x[None, :] + b * y[:, None] + c) % 256).astype(np.uint8)
    return np.repeat(v[:, :, None], 3, axis=2)


def gradient_images_df(spark, n: int):
    """``n`` analytic-ramp images (ids ``grad-0000``..), encoded through
    the real lossless codecs — the oracle-replicable fixture behind
    ``image_patch_grid_audit``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                image_id = f"grad-{int(i):04d}"
                w, h, a, bb, c, fmt = _gradient_params(image_id)
                px = _gradient_pixels(w, h, a, bb, c)
                rows.append({"image_id": image_id,
                             "bytes": codecs.encode(px, fmt),
                             "w": w, "h": h, "fmt": fmt})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=GRADIENT_IMAGES_SCHEMA)


RAMP_AUDIO_SCHEMA = "clip_id string, bytes binary, sample_rate int"


def ramp_audio_df(spark, n: int):
    """``n`` analytic-ramp PCM16 WAV clips (ids ``aud-0000``..): sample
    ``s(i) = ((a·i + c) mod 4096) − 2048`` with (length, a, c, rate)
    folded from md5 hex chars exactly like ``_gradient_params`` — every
    windowed integer statistic (Σs², max |s|, window population) has a
    SQL closed form, which is what lets the real RIFF chunk walk →
    ``audio_energy_windows`` path be value-gated against DuckDB
    (``audio_energy_ramp_audit``). Lengths 1500-2899 samples straddle
    the 1024-sample window so every clip carries at least one FULL and
    one PARTIAL trailing window (the divisor-correctness branch)."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                clip_id = f"aud-{int(i):04d}"
                o = [ord(ch) for ch in
                     hashlib.md5(clip_id.encode()).hexdigest()]
                n_s = 1500 + (o[0] * 256 + o[1]) % 1400
                a = 3 + o[4] % 11
                c = o[5] * 256 + o[2]
                rate = 8000 + 100 * (o[6] % 5)
                idx = np.arange(n_s, dtype=np.int64)
                pcm = (((a * idx + c) % 4096) - 2048).astype(np.int16)
                rows.append({"clip_id": clip_id,
                             "bytes": codecs.encode_wav(pcm, rate),
                             "sample_rate": rate})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=RAMP_AUDIO_SCHEMA)


RAMP_VIDEO_SCHEMA = "video_id string, bytes binary"


def ramp_video_df(spark, n: int):
    """``n`` analytic-ramp Y4M clips (ids ``vid-000``..): 6-12 frames
    per clip, dims folded from the clip md5, and every frame's ramp
    parameters folded from ``md5(video_id || '/s' || f // 3)`` — frames
    share pixel content within a 3-frame "scene" and change ramp at
    scene boundaries, planting exact scene-cut ground truth. Encoded
    through the real C444 Y4M writer so the decode → frame-sample →
    per-frame phash → lag-hamming chain (``video_scene_ramp_audit``)
    is value-gated bit for bit: DuckDB regenerates each frame's pixels
    and block sums from the same md5 folds."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                video_id = f"vid-{int(i):03d}"
                o = [ord(ch) for ch in
                     hashlib.md5(video_id.encode()).hexdigest()]
                w = 24 + (o[0] * 256 + o[1]) % 41
                h = 24 + (o[2] * 256 + o[3]) % 37
                n_f = 6 + o[4] % 7
                frames = []
                for f in range(n_f):
                    so = [ord(ch) for ch in hashlib.md5(
                        f"{video_id}/s{f // 3}".encode()).hexdigest()]
                    a = 3 + so[4] % 5
                    bb = 7 + so[5] % 5
                    c = (so[0] + 13 * so[4]) % 256
                    frames.append(_gradient_pixels(w, h, a, bb, c))
                rows.append({"video_id": video_id,
                             "bytes": codecs.encode_y4m(frames)})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=RAMP_VIDEO_SCHEMA)


def bordered_gradient_images_df(spark, n: int):
    """``n`` analytic-ramp images (ids ``bord-0000``..) wrapped in a
    constant-black letterbox/pillarbox of md5-derived thickness
    (0-6 px per axis; ~1/7 get none on an axis). Unlike
    ``bordered_images_df`` (xxh64 pads — pytest-only ground truth),
    every geometry number here is SQL-recomputable, so the decode →
    uniform-run border detection is value-gated end to end
    (``image_border_geometry_audit``). The ramp interior guarantees no
    content row/column is bit-uniform (a ≥ 3, b ≥ 7, width ≥ 24)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                image_id = f"bord-{int(i):04d}"
                w, h, a, bb, c, fmt = _gradient_params(image_id)
                import hashlib

                o = [ord(ch) for ch in
                     hashlib.md5(image_id.encode()).hexdigest()]
                ty, tx = o[6] % 7, o[7] % 7
                px = _gradient_pixels(w, h, a, bb, c)
                padded = np.pad(px, ((ty, ty), (tx, tx), (0, 0)),
                                constant_values=0)
                rows.append({"image_id": image_id,
                             "bytes": codecs.encode(padded, fmt),
                             "w": w + 2 * tx, "h": h + 2 * ty, "fmt": fmt})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=GRADIENT_IMAGES_SCHEMA)


def sniff_images_df(spark, n: int):
    """``n`` ramp images (ids ``sniff-0000``..) cycling ALL THREE real
    container formats — md5 char 7 picks raw/ppm/lossy — for the
    magic-byte sniffing gate (``format_sniff_audit``). Pixel exactness
    is irrelevant to container identification, so unlike
    ``gradient_images_df`` the lossy codec participates; every header
    field (magic, fmt code byte, little-endian dims, ASCII PPM dims)
    and the total octet length are closed-form functions of
    ``_gradient_params`` that a SQL oracle predicts without touching
    the payload. Reference analog: the vendor dispatch on the fetched
    envelope (/root/reference/DataProcessor/main.py:87-99) trusts the
    URL token; this fixture feeds the audit that distrusts it."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                image_id = f"sniff-{int(i):04d}"
                w, h, a, bb, c, _ = _gradient_params(image_id)
                o = [ord(ch) for ch in
                     hashlib.md5(image_id.encode()).hexdigest()]
                fmt = codecs.FORMATS[o[6] % 3]
                px = _gradient_pixels(w, h, a, bb, c)
                rows.append({"image_id": image_id,
                             "bytes": codecs.encode(px, fmt),
                             "w": w, "h": h, "fmt": fmt})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=GRADIENT_IMAGES_SCHEMA)


def chroma_gradient_images_df(spark, n: int):
    """``n`` COLOR ramp images (ids ``chro-0000``..): each channel is
    its own analytic ramp ``v_ch(y, x) = (a·x + b·y + c + d_ch) mod
    256`` with per-channel offsets ``d_R/d_G/d_B = md5 chars 8/9/10
    mod 97`` on top of the shared ``_gradient_params`` geometry —
    the only gradient fixture whose channels DIFFER, which is what the
    chroma/colorfulness QC gate (``image_chroma_ramp_audit``) needs:
    on the gray fixtures every opponent-axis statistic is identically
    zero.  The mod-256 wrap makes the opponent values (R−G, R+G−2B)
    piecewise — NOT constant per image — so the decoder cannot pass by
    shortcutting to the offset deltas; the oracle regenerates every
    pixel per channel instead.  Lossless formats only (raw/ppm via md5
    char 7 parity), so decoded pixels are bit-exact."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                image_id = f"chro-{int(i):04d}"
                w, h, a, bb, c, fmt = _gradient_params(image_id)
                o = [ord(ch) for ch in
                     hashlib.md5(image_id.encode()).hexdigest()]
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                base = a * x[None, :] + bb * y[:, None] + c
                px = np.stack(
                    [((base + o[7 + ch] % 97) % 256).astype(np.uint8)
                     for ch in range(3)], axis=2)
                rows.append({"image_id": image_id,
                             "bytes": codecs.encode(px, fmt),
                             "w": w, "h": h, "fmt": fmt})
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema=GRADIENT_IMAGES_SCHEMA)
