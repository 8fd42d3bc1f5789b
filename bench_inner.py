"""Spark-side half of the two-process bench emitter (see bench.py).

Runs every active headline query at $SPARK_GRAFT_SF_DIR on the
warmed session, measures median-of-3 interleaved draws through a noop
sink, runs the streaming throughput probes, appends the full-fat
record (with raw draws) to bench_history.jsonl, and writes the
compact payload JSON to the file named by $SPARK_GRAFT_BENCH_PAYLOAD.

It never prints the payload to stdout — the no-Spark parent does that
after this process (and any JVM straggler output, which inherits this
process's redirected fds) can no longer write anything.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import active_headliners, build_payload  # no-Spark import


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    headliners = active_headliners()
    from rstreams_spark.queries import REGISTRY
    from rstreams_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + parquet footers so per-query times measure the plan
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # spin up the Python worker pool once (workers are reused), so
    # pandas-UDF queries measure steady-state, not interpreter start
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # JIT/codegen warm pass at the smallest SF: first execution of a
    # plan pays multi-second janino compilation that has nothing to
    # do with data-scale throughput (measured: 8.9 s cold vs 2.2 s
    # warm for the same sf0.1 query). The smallest SF sits next to
    # the bench SF; without it the warm pass is skipped. Until
    # get_spark sized Spark's codegen cache to the catalog, the 100-
    # entry default kept only the last 100 classes of this pass, so
    # timed rounds recompiled most of them (codegen_compiles below)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")

    def run(df) -> None:
        # noop sink: executes the FULL plan incl. every projection
        # (count would let Catalyst prune unused expressions)
        df.write.format("noop").mode("overwrite").save()

    if os.path.isdir(warm_dir):
        for name in headliners:
            run(REGISTRY[name](spark, warm_dir))

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in headliners:  # untimed pass: row sanity at bench SF
        try:
            rows[name] = REGISTRY[name](spark, sf_dir).count()
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
    # MEDIAN-of-3 (r6; was min-of-2): this host shows multi-minute
    # noise bands (identical code 45 s vs 82 s), and a single low/high
    # draw faked both a "regression" (r5's quality_repetition) and
    # would fake speedups. The three timed runs are INTERLEAVED as
    # full rounds over the whole query list so one query's samples sit
    # minutes apart — a band that doesn't span the whole round can't
    # capture all three. Draws ride in bench_history.jsonl so the
    # judge (and bench_diff) can see the spread behind every median.
    draws: dict[str, list[float]] = {}
    from rstreams_spark.session import codegen_stats, gc_hygiene

    # per-round codegen work, so a cache thrash shows up as a number
    codegen: dict[str, list[float]] = {"codegen_compiles": [], "codegen_ms": []}
    for _ in range(3):
        # round-boundary hygiene: dead checkpoint blocks from the
        # previous round otherwise accumulate across ~120 query
        # executions and skew late draws (session.gc_hygiene)
        gc_hygiene(spark)
        cg0 = codegen_stats(spark)
        for name in headliners:
            if name in errors:
                continue
            try:
                start = time.perf_counter()
                run(REGISTRY[name](spark, sf_dir))
                dt = time.perf_counter() - start
                draws.setdefault(name, []).append(round(dt, 3))
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                draws.pop(name, None)
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
        cg1 = codegen_stats(spark)
        codegen["codegen_compiles"].append(cg1["compiles"] - cg0["compiles"])
        codegen["codegen_ms"].append(round(cg1["ms"] - cg0["ms"], 1))
    for name, ds in draws.items():
        times[name] = sorted(ds)[len(ds) // 2]  # median draw
    for name in headliners:
        if name in times:
            print(
                f"# {name}: {times[name]:.3f}s median of {draws[name]} "
                f"({rows[name]} rows)", file=sys.stderr,
            )

    # streaming rides along but must never sink the artifact: measure
    # defensively and write the payload unconditionally afterwards
    streaming: dict = {}
    try:
        import bench_streaming
        streaming = bench_streaming.measure(spark)
    except Exception as exc:
        streaming["err"] = f"{type(exc).__name__}: {exc}"[:300]
    try:
        import bench_streaming
        streaming.update(bench_streaming.measure_stateful(spark))
    except Exception as exc:
        streaming["stateful_err"] = f"{type(exc).__name__}: {exc}"[:300]
    try:
        import bench_streaming
        streaming.update(bench_streaming.measure_dedup_gates(spark, sf_dir))
    except Exception as exc:
        streaming["gate_err"] = f"{type(exc).__name__}: {exc}"[:300]
    print(f"# codegen per round: {codegen}", file=sys.stderr)
    print(f"# streaming: {streaming}", file=sys.stderr)

    payload = build_payload(
        times, sf, streaming, errors,
        cpus=spark.sparkContext.defaultParallelism,
    )
    # append-only per-run history so regressions surface as numbers;
    # tools/bench_diff.py prints the per-query delta of the last two
    try:
        import subprocess
        rev = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        rev = None
    try:
        hist = dict(payload, draws=draws, **codegen, ts=int(time.time()), commit=rev)
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_history.jsonl"), "a"
        ) as fh:
            fh.write(json.dumps(hist) + "\n")
    except Exception:
        pass  # history must never sink the payload

    # hand the payload to the parent via a FILE, never stdout: write,
    # flush, fsync, close — then hard-exit so no teardown hook can run
    out_path = os.environ.get("SPARK_GRAFT_BENCH_PAYLOAD")
    line = json.dumps(payload)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
            fh.flush()
            os.fsync(fh.fileno())
    else:  # standalone invocation (debugging): behave like old bench.py
        sys.stdout.write("\n" + line + "\n")
        sys.stdout.flush()
    sys.stderr.flush()
    # skip Python/JVM teardown entirely: shutdown-hook stacks (state
    # store abort noise) go to this process's redirected fds, which the
    # parent never exposes on its own stdout
    os._exit(0)


if __name__ == "__main__":
    main()
