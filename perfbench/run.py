"""Layered benchmark of the token codec engine.

    python3 perfbench/run.py --workload documents --seed 1 --seconds 10 --trace 0

Every run executes three phases on inputs drawn from ``sources.synth``
with ``--seed`` and checks every output:

1. rowgroup_lib: PGS frames and engine parquet on fixed row groups, one
   core, in three blocks: before Spark starts, between the Spark phases
   and after Spark stops (``lib_phase.py``);
2. token_store: ``encode_table`` then ``decode_table`` at
   ``local[<cores>]`` (``spark_phases.StorePhase``);
3. doc_lookup: pushed-down lookups through ``format("pgs")``
   (``spark_phases.LookupPhase``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
traced variant and prints the per-layer metrics (names and meaning in
``spec.py``). The last line of stdout is the JSON result; the line
before it carries details (codec picked per column, input sizes).
``--smoke`` runs each phase once at a tiny size. ``--write-spec``
regenerates ``BENCHMARK.json`` from ``spec.py``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout (inputs, stores, Spark local dirs, temp files, traces).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Share of --seconds each Spark phase measures for; each also has a
# minimum sample count, which wins on a slow host.
STORE_SHARE, LOOKUP_SHARE = 0.4, 0.6
MIN_STORE_ITERS, MIN_LAYER_ITERS = 3, 2
WARM_LOOKUPS = 1
# library passes per block; each metric reports the best pass of the
# run's three blocks, which sample three windows of the host's speed
LIB_FRAME_PASSES, LIB_PQ_PASSES = 3, 1


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--write-spec", action="store_true")
    return p.parse_args(argv)


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the package from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(pp),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM Spark starts, launcher included: temp files here, and
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _start_spark(cores: int):
    from parquet_go_spark.session import get_spark
    from parquet_go_spark.sources.pgs_datasource import register

    spark = get_spark(
        cores=cores, app_name="perfbench", driver_memory="3g",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _code_identity() -> str:
    """Digest of the sources that decide the frame bytes: the package
    and this benchmark."""
    h = hashlib.sha256()
    for top in ("parquet_go_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".py", ".c", ".h")):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _check_encoded_bytes(key: str, got: dict) -> int:
    """Frame byte counts must repeat exactly across runs of the same code
    with the same seed, sizes and core count; returns the number of
    columns that drifted."""
    path = os.path.join(WORK, "encoded_bytes.json")
    seen = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            seen = json.load(f)
    if key not in seen:
        seen[key] = got
        with open(path, "w", encoding="utf-8") as f:
            json.dump(seen, f)
        return 0
    drift = {c: (seen[key][c], got[c]) for c in got if seen[key][c] != got[c]}
    if drift:
        sys.stderr.write(f"encoded bytes drifted for {key}: {drift}\n")
    return len(drift)


def run(args) -> dict:
    from perfbench import host, inputs, spec
    from perfbench.lib_phase import LibPhase
    from perfbench.spark_phases import MIN_LOOKUPS, LookupPhase, StorePhase
    from perfbench.tracing import NullTracer, Tracer

    sizes = (spec.SMOKE_SIZES if args.smoke else spec.SIZES)[args.workload]
    seconds = spec.RUN_SECONDS if args.seconds is None else args.seconds
    if args.smoke:
        seconds = 0  # the minimum sample counts alone
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    layers = host.probe() if traced else {}
    tr = Tracer() if traced else NullTracer()
    untraced = NullTracer()  # set-up and warm-up run untraced

    steps: dict[str, float] = {}
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        steps[name] = now - last[0]
        last[0] = now

    lib = LibPhase(sizes, args.seed, os.path.join(WORK, "lib"), untraced)
    lap("lib_setup")
    lib.tr = tr

    frames = 1 if args.smoke else LIB_FRAME_PASSES

    def lib_block() -> None:
        """Library passes, while no Spark job runs."""
        for i in range(frames):
            lib.frame_pass()
            if i < LIB_PQ_PASSES:
                lib.pq_pass()

    lib_block()
    lib.note_peak_rss()  # before the Spark phases' inputs exist
    lap("lib_block")
    data = os.path.join(WORK, "input")
    corpus = inputs.Corpus(args.seed, sizes["shape"])
    store_info = inputs.write_input(corpus.rows(sizes["store_rows"]),
                                    os.path.join(data, "store"))
    lookup_rows = corpus.rows(sizes["lookup_rows"])
    lookup_info = inputs.write_input(lookup_rows,
                                     os.path.join(data, "lookup"))
    lap("inputs")
    spark = _start_spark(cores)
    lap("session")
    try:
        store = StorePhase(spark, untraced, os.path.join(data, "store"),
                           store_info, WORK, sizes["store_target_tokens"])
        lap("store_input")
        lookup = LookupPhase(spark, untraced, os.path.join(data, "lookup"),
                             lookup_rows, WORK, sizes["lookup_target_tokens"],
                             corpus, args.seed)
        lap("lookup_store")
        # the lookup-store encode warmed the Python workers and their
        # pick caches; warm the lookup path too
        for _ in range(WARM_LOOKUPS):
            lookup.lookup()
        lap("warm_up")
        setup_s = sum(v for k, v in steps.items() if k != "lib_block")
        store.tr = lookup.tr = tr

        n_store = 1 if args.smoke else (
            MIN_LAYER_ITERS if traced else MIN_STORE_ITERS)
        deadline = time.perf_counter() + STORE_SHARE * seconds
        done = 0
        while done < n_store or time.perf_counter() < deadline:
            with tr.trace("token_store"):
                store.layer_iteration() if traced else store.iteration()
            done += 1

        lib_block()
        if traced:
            lookup.map_parts()
        n_look = 4 if args.smoke else MIN_LOOKUPS
        latency: list[float] = []
        deadline = time.perf_counter() + LOOKUP_SHARE * seconds
        while len(latency) < n_look or time.perf_counter() < deadline:
            with tr.trace("doc_lookup"):
                latency.append(lookup.lookup())
        lap("measure")
    finally:
        _stop_spark(spark)
    lib_block()
    attempted = lib.attempted + store.attempted + lookup.attempted
    failed = lib.failed + store.failed + lookup.failed
    failed += _check_encoded_bytes(
        f"{args.workload}/{args.seed}/{'smoke' if args.smoke else 'full'}"
        f"/{cores}/{_code_identity()}", lib.encoded_bytes)

    if traced:
        layers.update(store.layer_metrics())
        layers.update(lookup.layer_metrics())
        layers.update(lib.layer_metrics())
        # the cost of recording every span, as a share of traced time
        traced_s = sum(s["end"] - s["start"] for s in tr.spans
                       if s["parent"] is None)
        layers["trace.overhead_pct"] = (
            100 * len(tr.spans) * tr.span_cost_s() / traced_s)
        tr.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        metrics = {m["name"]: (layers[m["name"]], m["unit"])
                   for m in spec.PER_LAYER}
    else:
        e2e = lib.metrics()
        e2e.update(store.metrics())
        e2e.update(LookupPhase.metrics(latency))
        e2e["setup_s"] = setup_s
        metrics = {m["name"]: (e2e[m["name"]], m["unit"])
                   for m in spec.END_TO_END}

    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "codecs": lib.codecs, "encoded_bytes": lib.encoded_bytes,
        "store_input": dict(store_info, partitions=store.partitions),
        "lookup_input": dict(lookup_info, partitions=lookup.partitions),
        "lib_raw_bytes": lib.raw, "lib_passes": [len(lib.enc), len(lib.pqw)],
        "store_samples": store.samples, "lookups": len(latency),
        "steps_s": steps,
    }}))
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    # run from the checkout root: perfbench/ itself must not shadow
    # top-level modules
    sys.path[0] = ROOT
    if importlib.util.find_spec("parquet_go_spark") is None:
        sys.stderr.write(
            "perfbench: package parquet_go_spark not found next to "
            f"perfbench/ in {ROOT}; run from a checkout of the repository\n")
        return 2
    _environment()  # before any import that may create temp files
    from perfbench import spec

    if args.write_spec:
        print(spec.write_benchmark_json(ROOT))
        return 0
    names = [w["name"] for w in spec.WORKLOADS]
    if args.workload not in names:
        sys.stderr.write(f"perfbench: --workload must be one of {names}\n")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
