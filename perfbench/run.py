"""Benchmark entry point: one seeded, correctness-checked workload per call.

    python3 perfbench/run.py --workload crawl_mix --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one process each

Run from the repository root. Each call builds its inputs from ``--seed``
(cached under ``.perfbench/``), starts one ``local[nproc]`` session with
the engine's own ``build_session``, runs one untimed warm-up pass over a
small slice and one over the full table, then closed-loop passes (one job
at a time, at least four) for ``--seconds`` and checks the last pass's
outputs against the oracle.

``--trace 0`` reports the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` is the separate traced run: Spark's event
log on, spans around every call into a layer, lineage cuts, and
single-thread oracle kernel timings (BENCHMARK.json ``per_layer``).

stdout: one human-readable line per metric, then the result as one JSON
object on the last line. Exit code 1 when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl_mix", "pdf_skew", "ocr_prep", "corpus_filters")
DEFAULT_SEED = 42
# At least this many timed passes even when --seconds is up sooner: pass
# times keep falling for many passes, so a pass count that varied with host
# speed would move the median along that trend.
MIN_PASSES = 4
SETTLE_PASSES = 1

# per-layer metric -> (end-to-end metric it should move, workloads it
# shows on; every other workload reports it flat, as 0 when the layer does
# not run there). Time and byte figures from the event log are per pass.
# Units of every metric are read from BENCHMARK.json.
PER_LAYER = {
    "plans.import_s": ("setup_s", "all"),
    "plans.build_session_s": ("setup_s", "all"),
    "plans.warm_pass_s": ("setup_s", "all"),
    "oracle.parse_pdf_s": ("docs_per_s", "crawl_mix ocr_prep pdf_skew"),
    "oracle.linearize_s": ("docs_per_s", "crawl_mix ocr_prep pdf_skew"),
    "oracle.htmlstrip_s": ("docs_per_s", "crawl_mix"),
    "oracle.render_s": ("pages_per_s", "ocr_prep"),
    "oracle.tables_s": ("pages_per_s", "ocr_prep"),
    "oracle.docs": ("-", "crawl_mix ocr_prep pdf_skew"),
    "oracle.pages": ("-", "crawl_mix ocr_prep pdf_skew"),
    "oracle.bytes_parsed": ("-", "crawl_mix ocr_prep pdf_skew"),
    "oracle.anchors_truncated": ("-", "crawl_mix ocr_prep pdf_skew"),
    "extract.useful_core_frac": ("docs_per_s", "crawl_mix pdf_skew"),
    "extract.scan_s": ("docs_per_s", "crawl_mix pdf_skew"),
    "extract.sniff_s": ("docs_per_s", "crawl_mix pdf_skew"),
    "extract.stage1_s": ("docs_per_s", "crawl_mix"),
    "extract.spread_s": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.assemble_s": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.write_s": ("docs_per_s", "crawl_mix pdf_skew"),
    "extract.traced_wall_s": ("docs_per_s", "crawl_mix pdf_skew"),
    "extract.tables_s": ("pages_per_s", "ocr_prep"),
    "extract.message_shas_s": ("pages_per_s", "ocr_prep"),
    "functions.python_s": ("docs_per_s", "crawl_mix ocr_prep pdf_skew"),
    "functions.to_python_mb": ("docs_per_s", "crawl_mix ocr_prep"),
    "functions.from_python_mb": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.shuffle_mb": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.spill_mb": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.gc_s": ("docs_per_s", "pdf_skew crawl_mix"),
    "extract.task_skew": ("docs_per_s", "pdf_skew crawl_mix ocr_prep"),
    "extract.exchanges": ("docs_per_s", "pdf_skew crawl_mix"),
    "dedup.minhash_pairs_s": ("docs_per_s", "corpus_filters"),
    "dedup.simhash_s": ("docs_per_s", "corpus_filters"),
    "textstats.quality_lang_s": ("docs_per_s", "corpus_filters"),
    "textstats.gopher_s": ("docs_per_s", "corpus_filters"),
    "textstats.top_bigram_s": ("docs_per_s", "corpus_filters"),
    "dedup.candidate_pairs": ("-", "corpus_filters"),
    "textstats.kept_docs": ("-", "corpus_filters"),
    "dedup.exchanges": ("docs_per_s", "corpus_filters"),
    "dedup.shuffle_mb": ("docs_per_s", "corpus_filters"),
    "pages_per_s": ("-", "crawl_mix ocr_prep pdf_skew"),
    "peak_rss_mb": ("-", "all"),
    "trace.untraced_wall_s": ("-", "all"),
    "trace.overhead_s": ("-", "all"),
}

# sha256 of each workload's expected outputs at DEFAULT_SEED: a change to
# an oracle kernel shows here even when its UDF changed with it
PINNED_DIGESTS = {
    "crawl_mix": "13e0e16641c45188f27fddbea599ae81daf6e88769cfa46b6dc5249199c808e8",
    "pdf_skew": "3b0e08d7dd14c03f4e55a45d6250a416d63330008eaca33bc18b2d34327174f8",
    "ocr_prep": "cd024a85ae12a01f5078f45eff5b5c596bbd96d54706f93a45e61172925048f8",
    "corpus_filters": "bc8b8a5f629df172a91afd7c4cb3c526af8b5dd189459b21b9a4b4711ca0aa0f",
}


def units() -> dict:
    """{metric: unit} for every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def import_engine() -> float:
    """Import the engine (pyspark, the operators, the oracle) and return
    the seconds it took: the driver-side import a one-shot job pays, the
    first part of set-up. Called before anything else loads the engine."""
    t0 = time.perf_counter()
    from perfbench import workloads  # noqa: F401  (pyspark + operators)
    from perfbench import kernels  # noqa: F401  (the oracle kernels)

    return time.perf_counter() - t0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env() -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable by Python workers whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_NO_WARM", None)
    # every JVM (the launcher too) keeps its perf counters off the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:+PerfDisableSharedMem") if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _session_conf(event_log_dir: str | None) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.master": f"local[{nproc()}]",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # SparkSession.builder keeps options across sessions of one process
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _start(name: str, event_log_dir: str | None = None):
    from typhoon_ocr_spark.plans.session import build_session

    spark = build_session(
        app_name=f"perfbench-{name}", master=f"local[{nproc()}]",
        extra_conf=_session_conf(event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_jvm() -> None:
    """Stop any active session and wait for the gateway JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts (Linux
    PR_SET_CHILD_SUBREAPER), so a worker whose parent exits first, as the
    Python workers do when the JVM stops, is reparented here and is still
    waited for by ``_end_descendants``."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process the run started has ended; kill any still
    running after ``grace_s`` and wait for those too."""
    from perfbench.trace import descendants

    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)


def _out_dir(workload: str, label: str) -> str:
    return os.path.join(WORK, "out", workload, label)


def _full_pass(workload: str, spark, prep: dict, label: str) -> float:
    from perfbench import workloads as wl

    return sum(wl.run_pass(workload, spark, prep["input"], _out_dir(workload, label)).values())


def _setup(workload: str, prep: dict, event_log_dir: str | None = None):
    """Set-up as a one-shot job pays it after importing the engine
    (``import_engine``, timed by the caller): build_session (with its own
    warm-up), then one untimed pass over the warm-up slice. Returns
    (spark, build_session seconds, warm-up pass seconds)."""
    from perfbench import workloads as wl

    t0 = time.perf_counter()
    spark = _start(workload, event_log_dir)
    t1 = time.perf_counter()
    wl.run_pass(workload, spark, prep["warm"], _out_dir(workload, "warm"))
    return spark, t1 - t0, time.perf_counter() - t1


def _settle(workload: str, spark, prep: dict) -> None:
    """A full GC, so the RSS peak reflects the passes rather than set-up's
    garbage, then an untimed pass over the full table before timing: pass
    times keep falling over the first full passes while the JVM compiles
    the plans (by 20-40% from the first to the third)."""
    spark._jvm.System.gc()
    for _ in range(SETTLE_PASSES):
        _full_pass(workload, spark, prep, "timed")


def _check(workload: str, prep: dict, seed: int, label: str):
    """(wrong, attempted, notes) for the outputs of the last pass."""
    from perfbench import inputs
    from perfbench import workloads as wl

    per_output = wl.check(workload, prep["expected"], _out_dir(workload, label))
    wrong = sum(w for w, _ in per_output.values())
    attempted = sum(a for _, a in per_output.values())
    notes = [f"{name}: {w}/{a} wrong" for name, (w, a) in per_output.items() if w]
    if seed == DEFAULT_SEED and workload in PINNED_DIGESTS:
        digest = inputs.expected_digest(prep["expected"])
        if digest != PINNED_DIGESTS[workload]:
            wrong += 1
            attempted += 1
            notes.append(f"expected-output digest {digest} != pinned {PINNED_DIGESTS[workload]}")
    return wrong, attempted, notes


def run_untraced(workload: str, seed: int, seconds: int) -> dict:
    import_s = import_engine()
    from perfbench import inputs
    from perfbench.trace import RssSampler

    prep = inputs.prepare(workload, seed, WORK, ROOT, nproc())
    spark, build_s, warm_s = _setup(workload, prep)
    try:
        _settle(workload, spark, prep)
        sampler = RssSampler().start()
        walls = []
        t0 = time.perf_counter()
        try:
            while len(walls) < MIN_PASSES or time.perf_counter() - t0 < seconds:
                walls.append(_full_pass(workload, spark, prep, "timed"))
        finally:
            peak = sampler.stop()
    finally:
        spark.stop()
    wrong, attempted, notes = _check(workload, prep, seed, "timed")
    median = statistics.median(walls)
    meta = prep["meta"]
    return {
        "wrong": wrong, "attempted": attempted, "notes": notes,
        "metrics": {"docs_per_s": meta["docs"] / median, "setup_s": import_s + build_s + warm_s},
        # printed, not gated (README.md: metrics that carry no bound)
        "extra": {"pages_per_s": meta["pdf_pages"] / median, "peak_rss_mb": peak},
        "info": {"passes": len(walls), "pass_s": [round(w, 4) for w in walls],
                 "docs": meta["docs"], "pdf_pages": meta["pdf_pages"]},
    }


CORPUS_METRICS = {
    "minhash_pairs": "dedup.minhash_pairs_s",
    "simhash": "dedup.simhash_s",
    "quality_lang": "textstats.quality_lang_s",
    "gopher": "textstats.gopher_s",
    "top_bigram": "textstats.top_bigram_s",
}


def _traced_round(workload: str, spark, prep: dict, spans, round_no: int) -> dict:
    """One traced pass: the lineage cuts for the extraction workloads,
    otherwise each output's action. Returns wall seconds per cut."""
    from perfbench import workloads as wl

    out = _out_dir(workload, "traced")
    if workload in wl.EXTRACT_WORKLOADS:
        return wl.run_extract_cuts(workload, spark, prep["input"], out, spans, round_no)
    walls = {}
    for name, frame in wl.pass_frames(workload, spark, prep["input"]).items():
        with spans.span(f"{workload}.{name}", round=round_no):
            walls[name] = wl.write(spark, wl.traced_desc(workload, name), frame,
                                   os.path.join(out, name))
    return walls


def run_traced(workload: str, seed: int, seconds: int) -> dict:
    import_s = import_engine()
    from perfbench import inputs, kernels, trace
    from perfbench import workloads as wl

    prep = inputs.prepare(workload, seed, WORK, ROOT, nproc())
    meta = prep["meta"]
    spans = trace.Spans()
    m = {name: 0.0 for name in PER_LAYER}
    m["plans.import_s"] = import_s

    with spans.span("oracle"):
        m.update(kernels.kernel_metrics(workload, prep["input"]))

    log_dir = os.path.join(WORK, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    with spans.span("setup"):
        spark, m["plans.build_session_s"], m["plans.warm_pass_s"] = _setup(workload, prep, log_dir)
    app_id = spark.sparkContext.applicationId
    rounds = []
    try:
        with spans.span("settle"):
            _settle(workload, spark, prep)
        sampler = trace.RssSampler().start()
        t0 = time.perf_counter()
        try:
            while not rounds or time.perf_counter() - t0 < seconds:
                with spans.span("round", round=len(rounds)):
                    rounds.append(_traced_round(workload, spark, prep, spans, len(rounds)))
        finally:
            m["peak_rss_mb"] = sampler.stop()
    finally:
        spark.stop()   # finishes the event log; the JVM stays up for the reference below
    med = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
    events = trace.parse_event_log(trace.find_event_log(log_dir, app_id))

    if workload in wl.EXTRACT_WORKLOADS:
        prev = 0.0
        for cut in wl.EXTRACT_CUTS:
            m[f"extract.{cut}_s"] = med[cut] - prev
            prev = med[cut]
        traced_wall = m["extract.traced_wall_s"] = med["write"]
        kernel_s = m["oracle.parse_pdf_s"] + m["oracle.linearize_s"] + m["oracle.htmlstrip_s"]
        m["extract.useful_core_frac"] = kernel_s / (traced_wall * nproc())
        cuts = ["write"]
    elif workload == "ocr_prep":
        m["extract.tables_s"] = med["tables"]
        m["extract.message_shas_s"] = med["message_shas"]
        traced_wall = med["tables"] + med["message_shas"]
        cuts = ["tables", "message_shas"]
    else:
        for out, metric in CORPUS_METRICS.items():
            m[metric] = med[out]
        traced_wall = sum(med.values())
        cuts = list(CORPUS_METRICS)
        m.update(wl.corpus_counts(_out_dir(workload, "traced")))

    # only the traced rounds' executions: set-up and settle passes run
    # under other descriptions
    traced = {n: events[wl.traced_desc(workload, n)] for n in cuts
              if wl.traced_desc(workload, n) in events}

    def per_pass(key, names):
        return sum(traced[n][key] / traced[n]["executions"] for n in names if n in traced)

    m["functions.python_s"] = per_pass("python_s", cuts)
    m["functions.to_python_mb"] = per_pass("to_python_mb", cuts)
    m["functions.from_python_mb"] = per_pass("from_python_mb", cuts)
    if workload == "corpus_filters":
        m["dedup.exchanges"] = per_pass("exchanges", ["minhash_pairs", "simhash"])
        m["dedup.shuffle_mb"] = per_pass("shuffle_mb", ["minhash_pairs", "simhash"])
    else:
        for key in ("shuffle_mb", "spill_mb", "gc_s", "exchanges"):
            m[f"extract.{key}"] = per_pass(key, cuts)
        m["extract.task_skew"] = max((e["task_skew"] for e in traced.values()), default=0.0)
    m["pages_per_s"] = meta["pdf_pages"] / traced_wall

    # tracing overhead: the same pass in a session without the event log
    with spans.span("untraced_reference"):
        spark, _, _ = _setup(workload, prep)
        try:
            _settle(workload, spark, prep)
            untraced = statistics.median(_full_pass(workload, spark, prep, "timed") for _ in range(2))
        finally:
            spark.stop()
    m["trace.untraced_wall_s"] = untraced
    m["trace.overhead_s"] = traced_wall - untraced

    wrong, attempted, notes = _check(workload, prep, seed, "traced")
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    spans.dump(os.path.join(WORK, "trace", f"{workload}-s{seed}-spans.json"))
    return {
        "wrong": wrong, "attempted": attempted, "notes": notes, "metrics": m, "extra": {},
        "info": {"rounds": len(rounds), "docs": meta["docs"], "pdf_pages": meta["pdf_pages"]},
    }


def _run_all(args) -> int:
    """Every workload, each in its own process (each pays its own set-up)."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    status = 0
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode or not lines:
            status = 1
        if not lines:
            summary["correct"] = False
            continue
        result = json.loads(lines[-1])
        summary["correct"] &= result["correct"]
        summary["attempted"] += result["attempted"]
        summary["failed"] += result["failed"]
        for name, value in result["metrics"].items():
            summary["metrics"][f"{workload}/{name}"] = value
    print(json.dumps(summary))
    return status


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, default=DEFAULT_SEED)
    parser.add_argument("--seconds", type=int, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    _configure_env()
    _adopt_orphans()
    load = os.getloadavg()
    try:
        result = (run_traced if args.trace else run_untraced)(args.workload, args.seed, args.seconds)
    finally:
        _shutdown_jvm()
        _end_descendants()

    w = args.workload
    print(f"# {w} seed={args.seed} nproc={nproc()} loadavg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f} "
          + " ".join(f"{k}={v}" for k, v in result["info"].items()))
    print(f"{w} wrong_frac {result['wrong'] / result['attempted']:.6g} ratio "
          f"({result['wrong']} of {result['attempted']} output keys)")
    for note in result["notes"]:
        print(f"# WRONG {w}: {note}")
    unit = units()
    for name, value in {**result["metrics"], **result["extra"]}.items():
        print(f"{w} {name} {value:.6g} {unit[name]}")
    print(json.dumps({
        "correct": result["wrong"] == 0,
        "attempted": result["attempted"],
        "failed": result["wrong"],
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in result["metrics"].items()},
    }))
    return 0 if result["wrong"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
