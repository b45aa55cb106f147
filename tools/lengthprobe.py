"""Payload-LENGTH axis sweep — the scale axis fixture replication never
grows.

    python tools/lengthprobe.py [build|run]

The ×10/×100 fixtures (tools/genfixture.py) grow ROWS; payload and
document LENGTH stay fixture-sized. But at 100 TB multimodal/text scale,
length is exactly the axis that grows — and the round-5 quadratic class
(per-position `substring(s, i, 1)` / per-window substring re-walks) is
INVISIBLE to row sweeps while exploding on the length axis (measured
×550 at 64 KB payloads on the raw idiom).

`build` writes /tmp/sflen4 and /tmp/sflen16: sf0.01 with documents.text
replaced by repeat(text, 4) / repeat(text, 16) (doc ids, sources, langs
unchanged; all other tables copied as-is). `run` times every
payload/text-extraction query at ×1/×4/×16 length and prints the
step ratios. With constant row count, linear-in-length operators grow
≈×4 per step; a per-step ratio well above the step factor (≥ 2×4)
means a super-linear length dependency — the quadratic-extraction
class — and the probe flags it.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from kuibadb_spark import registry  # noqa: E402
from kuibadb_spark.catalog import load  # noqa: E402
from kuibadb_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# every operator whose work is a function of payload/text LENGTH
PROBES = [
    "mm_audio_frame_energy", "mm_scene_cuts", "mm_byte_entropy",
    "mm_silence_runs", "mm_cdc_chunking", "mm_watermark_tiles",
    "mm_shot_keyframes", "mm_audio_gain_stats", "mm_frame_sample",
    "mm_phash_dct", "mm_ahash_near_dup", "mm_dedup_binary",
    "text_substring_dedup", "text_line_dedup", "text_quality",
    "text_pack_sequences",
    # round-7 additions whose work scales with text length: chunk
    # windows and 8-gram shingles both grow linearly with token count
    "text_chunk_overlap", "text_cross_source_overlap",
    "text_quality_robust_z", "dedup_tokens_saved",
    # round-7 batch 2: token counting and shingle df both scale with
    # document length
    "sample_epoch_schedule", "dedup_shingle_df_spectrum",
    "text_ngram_coverage_curve",
    # round-8: token counting, 5-gram shingling, and full-text hashing
    # all scale with document length
    "text_length_decile_bands", "sample_holdout_contamination",
    "dedup_cluster_size_spectrum",
    # round-8 batch 2: regex char classes, the token-run fold, and the
    # stopword filters are all length-linear row-local passes
    "text_ocr_artifact_screen", "text_lang_mismatch_screen",
    # round-9: split + array_distinct are length-linear row-local
    "sample_quota_per_source",
    # round-10: length(text) + split token counts are length-linear
    # row-local passes
    "sample_curriculum_order", "text_gini_token_concentration",
]


def build(spark) -> None:
    import os

    for mult, dst in ((4, "/tmp/sflen4"), (16, "/tmp/sflen16")):
        try:  # a partial build must not masquerade as complete
            os.remove(f"{dst}/.complete")
        except OSError:
            pass
        for t in TABLES:
            df = load(spark, SRC, t)
            if t == "documents":
                df = df.withColumn("text", F.expr(f"repeat(text, {mult})"))
            df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        # completeness marker, written LAST: preflight --gates rebuilds
        # unless this exists, so a crash mid-build (directory present,
        # tables missing) can't poison every later run (round-6 review)
        with open(f"{dst}/.complete", "w") as f:
            f.write(SRC)
        print(dst, "built")


def fixtures_complete() -> bool:
    import os

    return all(
        os.path.exists(f"{d}/.complete")
        for d in ("/tmp/sflen4", "/tmp/sflen16")
    )


def run(spark) -> int:
    qs = registry.all_queries()
    spark.read.parquet(f"{SRC}/region.parquet").count()  # warm
    flagged = []
    print(f"{'query':26s} {'x1':>7} {'x4':>7} {'x16':>8} {'r4':>5} {'r16':>5}")
    for n in PROBES:
        ts = []
        for sf in (SRC, "/tmp/sflen4", "/tmp/sflen16"):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                qs[n](spark, sf).write.format("noop").mode(
                    "overwrite").save()
                spark.catalog.clearCache()
                best = min(best, time.perf_counter() - t0)
            ts.append(best)
        r4 = ts[1] / max(ts[0], 1e-9)
        r16 = ts[2] / max(ts[1], 1e-9)
        # each step multiplies length by 4; linear-in-length = ratio ~4.
        # Flag a step ratio ≥ 8 (2× the step factor) when the step also
        # costs real time — that growth rate reaches quadratic territory.
        mark = ""
        if (r4 >= 8 and ts[1] > 2) or (r16 >= 8 and ts[2] > 2):
            flagged.append(n)
            mark = "  <-- super-linear in LENGTH"
        print(f"{n:26s} {ts[0]:7.2f} {ts[1]:7.2f} {ts[2]:8.2f}"
              f" {r4:5.1f} {r16:5.1f}{mark}")
    if flagged:
        print(f"lengthprobe: {len(flagged)} flagged: {flagged}")
        return 1
    print(f"lengthprobe: {len(PROBES)} probes, none super-linear")
    return 0


if __name__ == "__main__":
    spark = get_spark("lengthprobe")
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "build":
        build(spark)
        raise SystemExit(0)
    raise SystemExit(run(spark))
