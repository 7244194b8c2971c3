"""Connect-safe plan statistics and the size gates that read them.

Catalyst's plan-side size estimate (file sizes for scans, propagated
through the plan) gates several operators' small-vs-distributed
cutover — the same statistic AQE and the broadcast threshold
consult. Reading it runs NO job, but the accessor chain
(``_jdf.queryExecution()``) only exists on classic-mode DataFrames;
under Spark Connect there is no JVM handle, so callers get their
``fallback`` instead. Every gate reads it with the LARGE fallback,
which routes Connect sessions onto the fully-distributed path — the
side that is always correct, merely not the small-input shortcut.

Every size knee lives in ``KNEES`` and every gate decision goes
through ``above``, so one table says which side of which knee an
input lands on, and one DEBUG log line records each decision. Tests
and tools/certify.py force a side in-process by setting a knee to 0
(always above) or to ``LARGE`` (never above).
"""

from __future__ import annotations

import logging
import os

log = logging.getLogger(__name__)

LARGE = 1 << 62  # "assume big": pick the distributed/scale path

_MB = 1024 * 1024

# gate name -> knee in plan-estimated input bytes; ``above(gate, sdf)``
# is True when the estimate EXCEEDS the knee
KNEES: dict[str, int] = {
    # shingle-chain engine (r13): above this the mapInArrow
    # tokenize→shingle→xxhash64 kernel amortizes its Python-worker
    # roundtrips; below it the JVM expression chain wins on fixed
    # cost. Placed at the MEASURED crossover (interleaved cold-cache
    # jaccard e2e, best-of-3, same session): sf0.001/sf0.01 (~64 KB
    # plans) jvm 0.98-1.17 / 1.15-2.47 s vs arrow 1.23-1.94 /
    # 1.66-1.79 s — jvm wins; sf0.1 (580 KB) jvm 2.20-2.41 vs arrow
    # 1.77-1.93 s and 10x (6.9 MB) jvm 3.75-3.92 vs arrow 3.42-3.52 s
    # — arrow wins and keeps widening (chain stage at 100x: 10.2 ->
    # 2.5 s). Unlike the signature knee the chain kernel pays off
    # from bench scale up because it replaces regex-split + zip_with
    # + array_distinct interpreted work, not just hashing.
    "shingle_kernel": 256 * 1024,
    # minhash signature engine (r12): the kernel's only fixed cost is
    # a ~0.3 s Python-worker roundtrip, not extra stages, so its knee
    # sits well below dedup_scale — measured crossover (interleaved
    # A/B, cold-cache e2e): sf0.1 (0.6 MB plan) jvm wins by 0.35 s,
    # 10x (7 MB) a wash (4.53 vs 4.54 s), 100x (70 MB) the kernel
    # wins the signature stage 9.03 -> 2.70 s.
    "minhash_sig_kernel": 32 * _MB,
    # semdedup edge engine (r13): above this the within-cluster pair
    # join runs as bucketed-GEMM tiles instead of the per-pair JVM
    # expression join. The r13 phase profile (CERT_vectors_stages_r13)
    # put the expression join at 615 s of the 731 s 1000x wall — 512 M
    # candidate pairs each paying an interpreted 256-term aggregate()
    # dot product, exactly the per-pair arithmetic GEMM replaces
    # (measured ~50x on 256-dim floats). Driver SFs sit far below the
    # knee, so every declared query's floats are byte-identical; above
    # it the engines agree up to summation-order ulps at the tau
    # boundary (GEMM sums blockwise, the expression sequentially).
    "semdedup_gemm": 128 * _MB,
    # dedup fixed-stage mechanisms — jaccard hot-shingle demotion,
    # truncated-bound pre-verify, counted broadcast-verify, cache
    # barriers, minhash band persist — and edit_distance_pairs'
    # dfreq broadcast: each pays a fixed stage (a sample job, slim
    # joins, an eager count) or a broadcast that only pays below
    # corpus scale (measured 2.0 s vs 10.0 s at sf0.1 with the
    # mechanisms forced on; identical result either way)
    "dedup_scale": 128 * _MB,
    # contamination bench side: above this the raw bench text
    # shuffle-joins instead of riding as one in-row array (~8 B per
    # distinct shingle PER TASK when broadcast — fine for real eval
    # suites, super-linear once the "bench" side is corpus-sized)
    "contamination_bench_broadcast": 4 * _MB,
    # perplexity language-model sides: broadcast only a bounded lm
    # (top_v=None makes it the full corpus vocabulary)
    "lm_broadcast": 256 * _MB,
    # quantile verbs: above this the built-in percentile buffer (a
    # full value-count map merged on ONE reducer) gives way to the
    # sharded exact plan in operators/quantiles.py. Sized like a
    # broadcast threshold, well under one executor's task memory
    # (assumes >= 1 GiB per task slot); the one deployment-tuned knee.
    "quantile_buffer": int(
        os.environ.get("SPARK_GRAFT_QUANTILE_BUFFER_MB", "256")
    ) * _MB,
}


def plan_size_bytes(sdf, fallback: int = LARGE) -> int:
    """Catalyst's size estimate, capped at LARGE (unbounded estimates,
    e.g. of Python-UDF or cross-join plans, read as "assume big"), so
    a knee of LARGE is never exceeded."""
    try:
        size = sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    except Exception:  # Spark Connect: no _jdf / py4j handle
        return fallback
    return min(int(size), LARGE)


def above(gate: str, sdf) -> bool:
    """True when ``sdf``'s plan size exceeds the ``gate`` knee, i.e.
    the input takes the gate's scale-side plan."""
    size, knee = plan_size_bytes(sdf), KNEES[gate]
    side = size > knee
    log.debug("gate %s: size=%d knee=%d side=%s",
              gate, size, knee, "above" if side else "below")
    return side
