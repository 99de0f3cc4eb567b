"""Stage-wall breakdown for one refscale self-join cell (VERDICT r10 #7).

The refscale grid reports one wall per cell (tokenize → full
materialization). For cells that sit above the 2× line WITHOUT a plan
defect — db10 5g t=0.5 being the canonical one (broadcast correctly
declined at bound/token-rows ≈ 1.2, rows hash-green) — the open
question is WHERE the seconds go: the tokenize explode, the
doc-frequency shuffle + rank window, the driver-side gate scalars, the
candidate equi-join, or the verify attaches. This tool answers it by
materializing the pipeline at each internal boundary, reusing the
previous boundary's persisted frame so each delta is one stage's wall:

  1. tokenize     — tokenizer chain, persisted, count()
  2. dfreq+stats  — groupBy(token).count + _plan_from_dfreq's aggregate
  3. tkdf         — _token_table(dfreq=...) persisted, count()
  4. gate stats   — _gate_stats (the exact candidate-bound job),
                    or 0 when the sparse fast-decline skips it
  5. candidates   — _candidates: prefix-filtered token equi-join +
                    pair groupBy
  6. verify       — _verify: attaches + suffix overlap to the final
                    pair count

plus `one_shot`: the unsegmented public-API wall (same session, same
warm cache discipline as tools/ref_scale_bench.py), and `job_floor`:
the measured wall of an empty 32-partition shuffle job, the per-action
scheduling floor that every scalar/stat job pays regardless of data.

Segmented stages share the session but NOT intermediate caches with
`one_shot` (clearCache between), so sum(stages) ≈ one_shot up to
re-listing noise; divergence > ~20% would itself be a finding.

Usage::

    python tools/cell_profile.py [dataset] [tokname] [threshold] [n]

Defaults: db10 5g 0.5, n=3 (min over n for every wall). Prints one
JSON line; exit 0 always (diagnostic, not a gate).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "refscale")


def _best(fn, n):
    walls = []
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return min(walls)


def main() -> int:
    dataset = sys.argv[1] if len(sys.argv) > 1 else "db10"
    tok_name = sys.argv[2] if len(sys.argv) > 2 else "5g"
    t = float(sys.argv[3]) if len(sys.argv) > 3 else 0.5
    n = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    # Pre-touch the pinned heap so timed iterations never fault
    # fresh pages (see session.py round-11 note on VM memory storms).
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from jaccard_join_duckdb_spark import (
        QGramsTokzr,
        WhitespaceTokzr,
        get_spark,
    )
    from jaccard_join_duckdb_spark.operators import jaccard as J

    spark = get_spark(app_name="cell-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tok = WhitespaceTokzr() if tok_name == "ws" else QGramsTokzr(5)

    df = spark.read.parquet(os.path.join(DATA, f"{dataset}.parquet"))

    # Warm-up: one end-to-end run, excluded (mirrors ref_scale_bench).
    J.jaccard_self_join(df, "id", "val", tok, t).count()
    spark.catalog.clearCache()

    # Per-action scheduling floor: an empty 32-partition shuffle job.
    floor = _best(
        lambda: spark.range(0, 32, 1, 32).groupBy(
            (F.col("id") % 32).alias("k")
        ).count().count(),
        n,
    )

    # --- one-shot public-API wall (the grid's quantity) ---
    def one_shot():
        J.jaccard_self_join(df, "id", "val", tok, t).count()
        spark.catalog.clearCache()

    w_one_shot = _best(one_shot, n)

    # --- segmented walls (min over n full segmented runs) ---
    # The join's own stages (operators/jaccard.py), materialized one
    # at a time: same helpers, same arguments as jaccard_self_join.
    stages: dict[str, list[float]] = {}
    out_rows = 0
    for _ in range(n):
        t0 = time.monotonic()
        tokens = tok.tokenize(df, "id", "val").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        tokens.count()
        t1 = time.monotonic()
        dfreq = tokens.groupBy("token").agg(
            F.count(F.lit(1)).alias("df")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        stats, n_words, _ = J._plan_from_dfreq(
            dfreq, ("df",), tok.rows_distinct, None, 0
        )
        t2 = time.monotonic()
        if n_words:
            print(json.dumps({
                "metric": "cell_profile", "error":
                "profiler segments the array and generic verify "
                "paths; this cell takes the bitset path",
            }))
            spark.stop()
            return 0
        tkdf = J._token_table(tokens, dfreq, pair_key=True).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        tkdf.count()
        t3 = time.monotonic()
        cheap_decline = stats["sumsq"] < J._BROADCAST_VERIFY_MIN_RATIO * max(
            stats["n_tok"], 1
        )
        side, bound, dup_rows = J._Side(tkdf, 0, 0), 0, -1
        if not cheap_decline:
            g = J._gate_stats([tkdf], t, skip_dup=tok.rows_distinct)
            side = J._Side(tkdf, g.docs[0], g.toks[0])
            bound, dup_rows = g.bound[0][0], g.dup_rows
        t4 = time.monotonic()
        cand = J._candidates(
            tkdf, tkdf,
            (F.col("R.l_id") < F.col("S.l_id"))
            & J._length_cond(F.col("R.len"), F.col("S.len"), t),
            t, "pos",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_cand = cand.count()
        t5 = time.monotonic()
        array_ok = tok.rows_distinct or (
            J._RUNTIME_DISTINCT_ARRAY and dup_rows == 0
        )
        out_rows = J._verify(
            cand, side, side, t, n_words=0, array_ok=array_ok, bound=bound
        ).count()
        t6 = time.monotonic()
        for name, w in [
            ("tokenize", t1 - t0), ("dfreq_stats", t2 - t1),
            ("tkdf", t3 - t2), ("gate_stats", t4 - t3),
            ("candidates", t5 - t4), ("verify", t6 - t5),
        ]:
            stages.setdefault(name, []).append(w)
        if not array_ok:
            path = "generic"
        else:
            path = "array" if tok.rows_distinct else "array-runtime"
        meta = {
            "vocab_n": stats["vocab"], "bitset": False, "path": path,
            "n_tok": stats["n_tok"], "sumsq": stats["sumsq"],
            "cheap_decline": cheap_decline, "bound": bound,
            "ratio": round(bound / max(side.toks, 1), 2) if bound else None,
            "n_cand": n_cand,
        }
        spark.catalog.clearCache()

    mins = {k: round(min(v), 3) for k, v in stages.items()}
    result = {
        "metric": "cell_profile",
        "cell": f"{dataset} self {tok_name} t={t}",
        "one_shot_s": round(w_one_shot, 3),
        "stages_s": mins,
        "stages_sum_s": round(sum(mins.values()), 3),
        "job_floor_s": round(floor, 3),
        "out_rows": out_rows,
        "n": n,
        **meta,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
