"""Seeded closed-loop benchmark of the word-score engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One client runs one job at a time on
``local[<cores>]`` with the package's ``get_spark()`` defaults; the only
confs set here are observability ones. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it lists every figure the run measured,
with its unit, for a human reader.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_ITERATIONS = 1
# units of the figures that only the detail line carries; BENCHMARK.json
# gives the rest
DETAIL_UNITS = {"rows_per_s": "1/s", "ops_failed": "ratio", "gen_s": "s", "iterations": "count"}


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident KiB) for every visible process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        ppid = rss = 0
        try:
            with open(f"/proc/{d}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        rss = int(line.split()[1])
        except OSError:
            continue
        table[int(d)] = (ppid, rss)
    return table


def _descendants(root: int, table: dict) -> list[int]:
    out = []
    for pid in table:
        p = table[pid][0]
        while p and p != root:
            p = table.get(p, (0, 0))[0]
        if p == root:
            out.append(pid)
    return out


class PeakRss(threading.Thread):
    """Peak resident memory of this process plus every process under it:
    the driver JVM and the Python workers."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_kb, self._halt = period, 0, threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            table = _proc_table()
            kb = table.get(me, (0, 0))[1] + sum(table[p][1] for p in _descendants(me, table))
            self.peak_kb = max(self.peak_kb, kb)
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = _descendants(os.getpid(), _proc_table())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_word_score_spark", "__init__.py")):
        print(f"no hadoop_word_score_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    work = os.path.join(HERE, ".work", str(os.getpid()))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every scratch file of the run (shuffle, spills, temp files) in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    try:
        result = _run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, wl, work: str) -> dict:
    import collect
    import inputs
    import workloads

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(DETAIL_UNITS)
    rss = PeakRss()
    rss.start()
    from hadoop_word_score_spark.session import default_parallelism, get_spark

    spark = get_spark("perfbench", extra_confs=collect.observability_confs(args.trace))
    try:
        spark.range(1).count()
        setup_s = time.time() - PROCESS_START
        data, truth, gen_s = inputs.prepare(os.path.join(HERE, ".cache"), wl.name, args.seed, wl.size)
        spans = workloads.Spans()
        jobs = collect.Jobs(spark)
        tracer = collect.Collector(spark, spans) if args.trace else None
        count = {"attempted": 0, "failed": 0}

        def iteration(traced: bool):
            out = os.path.join(work, f"iter-{count['attempted']}")
            mark = tracer.mark() if traced else {"job": jobs.last()}
            since = len(spans.records)
            count["attempted"] += 1
            try:
                with spans("iteration") as it:
                    res = wl.run(spark, data, truth, out, spans)
                if not res.batch_s:  # one-shot job: its first Spark job, the map side
                    res.batch_s = jobs.seconds_since(mark["job"])[:1]
                quality = wl.check(res, truth, data)
                job_s = it["end"] - it["start"]
                layers = tracer.layers(mark, since, res, job_s) if traced else None
            except Exception as e:  # a failed iteration counts against ops_failed
                count["failed"] += 1
                print(f"iteration failed: {type(e).__name__}: {e}", file=sys.stderr)
                return None
            finally:
                shutil.rmtree(out, ignore_errors=True)
            return {"job_s": job_s, "res": res, "quality": quality, "layers": layers}

        def measure(budget: float, traced: bool) -> list[dict]:
            """Iterate while at least half of the next iteration fits in
            ``budget``, so the time measured is ``budget`` on average."""
            done, t0, last = [], time.time(), 0.0
            while len(done) < MIN_ITERATIONS or time.time() - t0 + last / 2 <= budget:
                if time.time() - t0 > 3 * budget:
                    break  # iterations keep failing
                t = time.time()
                r = iteration(traced)
                last = time.time() - t
                if r:
                    done.append(r)
            return done

        # JIT, Python workers, page cache
        warmup = [iteration(False) for _ in range(wl.warmup)]
        budget = args.seconds / 2 if args.trace else args.seconds
        plain = measure(budget, False)
        traced = measure(budget, True) if args.trace else []
    finally:
        peak_rss_mb = rss.stop()
        _shutdown(spark)

    med = workloads.median
    job_s = med([r["job_s"] for r in plain])
    phases, quality = {}, {}
    for r in plain:
        for k, v in r["res"].phases.items():
            phases.setdefault(k, []).append(v)
        quality.update(r["quality"])
    figures = {
        "setup_s": setup_s,
        "job_s": job_s,
        "batch_s": med([b for r in plain for b in r["res"].batch_s]),
        "rows_per_s": wl.size / job_s if job_s else 0.0,
        "peak_rss_mb": peak_rss_mb,
        **{k: med(phases.get(k, [])) for k in workloads.PHASES},
        **{k: quality.get(k, 0.0) for k in workloads.QUALITY},
        "ops_failed": count["failed"] / count["attempted"],
        "gen_s": gen_s,
        "iterations": len(plain),
    }
    info = {"workload": wl.name, "seed": args.seed, "size": wl.size, "cores": default_parallelism(),
            "warmup_s": [r and r["job_s"] for r in warmup],
            "iteration_s": [r["job_s"] for r in plain]}
    if args.trace:
        figures.update(collect.summarize(
            [r["layers"] for r in traced], [r["job_s"] for r in traced], job_s))
        if not traced:  # every traced iteration failed: report them, with zeros
            figures.update({m["name"]: 0.0 for m in spec["per_layer"] if m["name"] not in figures})
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        path = os.path.join(HERE, ".traces", f"{wl.name}-s{args.seed}-{os.getpid()}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**info, "spans": spans.records, "layers": [r["layers"] for r in traced]}, f)
        info["trace"] = os.path.relpath(path)
    as_json = lambda names: {k: {"value": figures[k], "unit": units[k]} for k in names}
    print(json.dumps({**info, "metrics": as_json(figures)}))
    shown = spec["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": count["failed"] == 0,
        "attempted": count["attempted"],
        "failed": count["failed"],
        "metrics": as_json(m["name"] for m in shown),
    }


if __name__ == "__main__":
    sys.exit(main())
