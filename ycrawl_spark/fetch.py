"""Fetch + parse/validate stages — Arrow-vectorized, no per-row Python UDFs.

Reference analogs:
  - fetch: one puppeteer process per URL writing a ``.pp`` envelope or
    ``_ERR.pp`` (/root/reference/Worker/node_handler.js:22-163,150-159);
    here one ``mapInPandas`` stage over host-bucket partitions, errors
    become ``status='ERR'`` rows, never a filename convention.
  - parse: per-vendor cookers dispatched on a URL token
    (/root/reference/DataProcessor/main.py:87-99,
    /root/reference/DataProcessor/cooker.py) → a single vectorized
    decode UDF dispatching on ``fmt`` inside the batch.

The sandbox has no network, so the "site" is a deterministic function:
payload bytes and scraped caption are regenerated from ``image_id``
(ycrawl_spark.codecs), and fetch failures are a pure function
``fail_roll(key, attempt, cfg)`` — both reproducible by the simulator.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import codecs
from .config import CrawlConfig, fail_roll
from .hashing import xxh64_str

FETCH_PARSE_SCHEMA = (
    "key string, image_id string, canonical_host string, epoch int, "
    "attempt int, shuffle_rank long, status string, exetime double, "
    "w int, h int, fmt string, phash long, psnr double, "
    "caption_scraped string, valid boolean, "
    # Frontier echo — populated ONLY on ERR rows (null for ok, which
    # parquet stores for free): a failed fetch re-enters the pending
    # frontier as a plain projection of the epoch delta, no join back
    # to the frontier needed. Exception: ``depth`` is echoed on ok rows
    # too — link discovery derives child depth from the delta.
    "url string, host_bucket int, priority int, depth int, "
    "discovered_ts timestamp, epoch_added int, "
    "w_ref int, h_ref int, fmt_ref string, caption_ref string, "
    "phash_ref string"
)

# Columns echoed through the fetch stage for ERR rows (see above).
ECHO_COLS = ("url", "host_bucket", "priority", "depth", "discovered_ts",
             "epoch_added", "w_ref", "h_ref", "fmt_ref", "caption_ref",
             "phash_ref")

# Reference-metadata columns carried on the frontier (joined from the
# images table ONCE at crawl start) so per-row validation is a pure
# in-batch comparison — no per-epoch join against the images dim.
# phash_ref travels as a STRING: a nullable int64 column would cross
# Arrow as float64 and silently corrupt the low bits of 64-bit hashes.
REF_COLS = ("w_ref", "h_ref", "fmt_ref", "caption_ref", "phash_ref")


def fetch_parse_stage(selected: DataFrame, cfg: CrawlConfig, epoch: int,
                      n_parts: int | None = None) -> DataFrame:
    """Fused fetch + decode + validate: one Arrow stage from
    (key,url,…,*_ref) to parsed features with the per-row ``valid``
    verdict; ERR rows carry null parse columns and null ``valid``.

    The engine never stores raw bytes (only fetch_log), so each payload
    is encoded and decoded inside this one stage and never crosses the
    Arrow boundary. Validation happens here too: the expected
    (w,h,fmt,caption,phash) ride along from the frontier (REF_COLS, one
    join at crawl start, amortized over every epoch) instead of a
    sort-merge join against the full images dim every epoch.

    ``n_parts``: partition count for the Python stage — the caller
    right-sizes it from the known candidate count so tail retry epochs
    (tens of rows) don't launch hundreds of tasks. Default 4× cores:
    per-host hash grouping is uneven (Zipf hosts), so several waves of
    smaller tasks keep stage wall time near sum/cores instead of
    max-task.
    """

    _no_echo = (None,) * len(ECHO_COLS)
    # ok rows echo ONLY depth (tiny int — link discovery derives child
    # depth = parent depth + 1 from the epoch delta without a join back
    # to the frontier); the wide echo stays ERR-only.
    _depth_at = ECHO_COLS.index("depth")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            has_refs = REF_COLS[0] in b.columns
            if has_refs:
                refs = tuple(b[c].tolist() for c in REF_COLS)
            echo = tuple(
                b[c].tolist() if c in b.columns else [None] * len(b)
                for c in ECHO_COLS
            )
            out = []
            for i, (key, image_id, host, attempt, srank) in enumerate(zip(
                b["key"], b["image_id"], b["canonical_host"], b["attempt"], b["shuffle_rank"]
            )):
                attempt, srank = int(attempt), int(srank)
                exe = (xxh64_str(f"exe:{key}:{attempt}") % 7000) / 100.0
                if fail_roll(key, attempt, cfg):
                    out.append((key, image_id, host, epoch, attempt, srank,
                                "ERR", exe, None, None, None, None, None, None,
                                None) + tuple(e[i] for e in echo))
                    continue
                # inlined make_image_row → decode: each codec step once
                w, h = codecs.gen_dims(image_id)
                fmt = codecs.gen_fmt(image_id)
                truth = codecs.gen_pixels(image_id, w, h)
                px = codecs.decode(codecs.encode(truth, fmt))
                if fmt != "lossy" and np.array_equal(truth, px):
                    p = float("inf")  # lossless round-trip: exact by construction
                else:
                    p = codecs.psnr(truth, px)
                phash_v = codecs.phash64(px)
                cap = codecs.gen_caption(image_id)
                if has_refs and not pd.isna(refs[0][i]):
                    valid = (
                        w == refs[0][i] and h == refs[1][i]
                        and fmt == refs[2][i] and cap == refs[3][i]
                        and phash_v == int(refs[4][i])
                        and (p >= 40.0 if fmt == "lossy" else p >= 999.0)
                    )
                else:
                    valid = None
                d = echo[_depth_at][i]
                ok_echo = (_no_echo[:_depth_at]
                           + (None if d is None or pd.isna(d) else int(d),)
                           + _no_echo[_depth_at + 1:])
                out.append((key, image_id, host, epoch, attempt, srank, "ok", exe,
                            w, h, fmt, phash_v, min(p, 999.0), cap, valid)
                           + ok_echo)
            # Build as object first: ERR rows carry nulls in the parse
            # columns, and the default DataFrame constructor would coerce
            # mixed int/None columns to float64 — silently zeroing the
            # low bits of 64-bit phash values. Nullable Arrow-friendly
            # dtypes are applied per column instead.
            pdf = pd.DataFrame(
                out,
                columns=["key", "image_id", "canonical_host", "epoch", "attempt",
                         "shuffle_rank", "status", "exetime", "w", "h", "fmt",
                         "phash", "psnr", "caption_scraped", "valid",
                         *ECHO_COLS],
                dtype=object,
            )
            for c, dt in (("epoch", "int32"), ("attempt", "int32"),
                          ("shuffle_rank", "int64"), ("exetime", "float64"),
                          ("w", "Int32"), ("h", "Int32"), ("phash", "Int64"),
                          ("psnr", "Float64"), ("valid", "boolean"),
                          ("host_bucket", "Int32"), ("priority", "Int32"),
                          ("depth", "Int32"), ("epoch_added", "Int32"),
                          ("w_ref", "Int32"), ("h_ref", "Int32"),
                          ("discovered_ts", "datetime64[ns]")):
                pdf[c] = pdf[c].astype(dt)
            yield pdf

    if n_parts is None:
        n_parts = 4 * selected.sparkSession.sparkContext.defaultParallelism
    return (
        selected.repartition(n_parts, "canonical_host")
        .mapInPandas(run, schema=FETCH_PARSE_SCHEMA)
    )

