"""Crawl benchmark of record: ``CrawlEngine`` on ``local[k]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``): ``bulk``, ``polite``, ``spool_recrawl``.
One client issues operations back to back (a closed loop): an
operation is one complete crawl, driven one ``run(max_waves=1)`` call
at a time, followed on ``spool_recrawl`` by a fixed series of
``invalidate_and_recrawl`` calls.  After the untimed warm-up
operations, operations repeat the same inputs in fresh run directories:
at least one, and another only while one more of the last one's length
still fits in ``--seconds``.

Every operation's committed offers are digested as whole rows in
crawl order (``model.ORDER_COLS``), in the reference row shape
(``compat.to_reference_rows``), and compared with the rows of
``ReferenceSimulator`` on the same seeds and web config; on
``spool_recrawl`` the offers must also converge back to the same
digest after every invalidation.  An operation that raises or
mismatches counts as failed.

``--trace 0`` reports the end-to-end metrics with no instrumentation.
``--trace 1`` wraps the engine's layer entry points from outside
(``spans.py``), reads per-wave job accounting from Spark's status
store, runs the per-layer microbench legs (``layers.py``) and reports
the per-layer metrics.  Human-readable lines go first; the last line
of standard output is one JSON object.

All files live under ``.bench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "2g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def confine_to(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM at
    ``work`` and make the repository importable by Spark's workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest whole percentile with at least
    ten samples above it, nearest-rank; None when n < 11."""
    n = len(xs)
    if n < 11:
        return None, None, n
    p = int(100 * (n - 10) / n)
    s = sorted(xs)
    return s[max(0, -(-p * n // 100) - 1)], p, n


def tail_row(xs) -> tuple:
    value, p, n = tail(xs)
    note = f"p{p} of n={n}" if p is not None else f"n={n}: no percentile has 10 samples above it"
    return value, "s", note


# -------------------------------------------------------------- digests

def offers_digest(eng, seeds) -> tuple[str, int]:
    """Digest of every committed offer, whole rows in crawl order, in the
    reference's row shape (``compat.to_reference_rows``)."""
    from cianparser_spark.engine import compat
    from reference import digest_rows

    rows = compat.to_reference_rows(eng.offers(), seeds)
    return digest_rows(rows), len(rows)


def expected(wname: str, seed: int, snap: str) -> dict:
    """Reference digest for (workload, seed), cached on disk.  A missing
    one is computed by ``reference.py`` in a child process, so the
    simulator never adds to this process's peak RSS."""
    from reference import cache_key

    path = os.path.join(WORK_ROOT, "expected", f"{wname}-{seed}-{cache_key(wname, seed)}.json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "reference.py"),
                        "--workload", wname, "--seed", str(seed),
                        "--snapshot", snap, "--out", path], check=True)
    with open(path) as fh:
        return json.load(fh)


# --------------------------------------------------------------- set-up

def setup(k: int, work: str, urls: list[str], cfg):
    """Session start, warm-up (the one-time widen compile) and snapshot
    render.  Returns (spark, snapshot path, set-up s, snapshot s)."""
    from cianparser_spark.corpus import snapshot
    from cianparser_spark.engine import columnar, model
    from cianparser_spark.engine.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    raw0 = spark.createDataFrame([], model.RAW_STAGE_SCHEMA)
    dim0 = columnar.seed_dim(spark, {0: dict(
        seed_id=0, kind="flat", deal="sale", location="x", suburban_type=None)})
    columnar.widen(raw0, dim0).count()
    t_warm = time.perf_counter()
    snap = os.path.join(work, "web.snap")
    # one render process: a pool would need named semaphores outside
    # the working directory, and these page counts render in ~1 s
    snapshot.build_parallel(urls, cfg, snap, processes=1)
    t1 = time.perf_counter()
    return spark, snap, t1 - t0, t1 - t_warm


# ------------------------------------------------------------ operations

class Client:
    """The closed-loop client: one operation at a time."""

    def __init__(self, spark, cfg, work, ledger=None, tracer=None):
        self.spark, self.cfg, self.work = spark, cfg, work
        self.ledger, self.tracer = ledger, tracer
        self.n_ops = 0

    def op(self, w, inputs, digest: str | None) -> dict:
        """One crawl (+ invalidations), checked against ``digest`` when
        given.  Never raises: a failure is recorded in the result."""
        from pyspark.sql import functions as F

        from cianparser_spark.engine.crawler import CrawlEngine

        self.n_ops += 1
        if self.tracer is not None:
            self.tracer.op = self.n_ops
        run_dir = os.path.join(self.work, f"op{self.n_ops}")
        res = {"id": self.n_ops, "ok": False, "waves": [], "crawl_s": 0.0,
               "invalidate_s": [], "pages": 0, "run_dir": run_dir}
        try:
            eng = res["engine"] = CrawlEngine(
                self.spark, run_dir, inputs.seeds, self.cfg,
                host_tokens=w.host_tokens, bloom_spool=w.bloom_spool)
            t_crawl = time.perf_counter()
            while True:
                before = eng.store.last_wave()
                j0 = self.ledger.last_job_id() if self.ledger else None
                t0 = time.time()
                eng.run(max_waves=1)
                t1 = time.time()
                if eng.store.last_wave() == before:
                    break
                j1 = self.ledger.last_job_id() if self.ledger else None
                res["waves"].append((t0, t1, j0, j1))
            res["crawl_s"] = time.perf_counter() - t_crawl
            m = eng.store.read("metrics").agg(
                *[F.sum(c).alias(c) for c in ("pages_fetched", "details_fetched",
                                              "cards_parsed", "offers_emitted")]
            ).collect()[0]
            res["pages"] = int((m["pages_fetched"] or 0) + (m["details_fetched"] or 0))
            res["cards"] = int(m["cards_parsed"] or 0)
            res["emitted"] = int(m["offers_emitted"] or 0)
            got, n_offers = offers_digest(eng, inputs.seeds)
            res["offers"] = n_offers
            bad = [] if digest is None or got == digest else ["the crawl"]
            for pages in inputs.invalidate:
                t0 = time.perf_counter()
                eng.invalidate_and_recrawl(pages)
                res["invalidate_s"].append(time.perf_counter() - t0)
                if digest is not None and offers_digest(eng, inputs.seeds)[0] != digest:
                    bad.append(f"invalidating {pages}")
            res["op_s"] = res["crawl_s"] + sum(res["invalidate_s"])
            res["store_bytes"], res["store_files"] = du(run_dir)
            res["ok"] = not bad
            for what in bad:
                print(f"op {self.n_ops}: offers after {what} differ from the "
                      "reference", file=sys.stderr)
        except Exception:  # the loop must go on; the failure is counted
            traceback.print_exc()
        return res


def du(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return total, files


def jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(name)] = int(fields[1])
            except (OSError, IndexError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


# ---------------------------------------------------------------- report

def emit(report: list, name: str, value, unit: str, note: str = "") -> None:
    report.append((name, value, unit, note))


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    from workloads import WORKLOADS, make_inputs, warmup

    w = WORKLOADS[args.workload]
    k = min(4, cores())
    work = os.path.join(WORK_ROOT, f"run-{w.name}-{args.seed}-{os.getpid()}")
    confine_to(work)
    spark = None
    try:
        inputs = make_inputs(w, args.seed)
        spark, snap, setup_s, snapshot_s = setup(k, work, inputs.list_urls, inputs.cfg)
        cfg = dataclasses.replace(inputs.cfg, snapshot_path=snap)
        exp = expected(w.name, args.seed, snap)
        tracer = ledger = None
        if args.trace:
            from spans import JobLedger, Tracer

            tracer, ledger = Tracer(), JobLedger(spark)
            tracer.install()
        client = Client(spark, cfg, work, ledger, tracer)
        warm = [client.op(*warmup(w, inputs), None)   # untimed, unchecked
                for _ in range(w.warmup_ops)]
        # closed loop: the next operation starts only if one more of the
        # last one's length still fits in the window
        ops = []
        t_start = t_prev = time.perf_counter()
        while True:
            ops.append(client.op(w, inputs, exp["digest"]))
            now = time.perf_counter()
            if now - t_start + (now - t_prev) > args.seconds:
                break
            t_prev = now
        if tracer is not None:
            tracer.uninstall()
        all_ops = warm + ops
        failed = sum(not o["ok"] for o in all_ops)
        report: list = []
        good = [o for o in ops if o["ok"]]
        walls = [t1 - t0 for o in good for (t0, t1, _, _) in o["waves"]]
        inval = [s for o in good for s in o["invalidate_s"]]
        crawl_s = sum(o["crawl_s"] for o in good)
        pps = sum(o["pages"] for o in good) / crawl_s if crawl_s else 0.0
        wave_p50 = median(walls)
        if not args.trace:
            emit(report, "setup_s", setup_s, "s")
            emit(report, "pages_per_s", pps, "1/s")
            emit(report, "op_s.p50", median([o["op_s"] for o in good]), "s",
                 f"n={len(good)}; warm-up ops " + ", ".join(
                     f"{o.get('op_s', 0):.3g}" for o in warm) + " s")
            emit(report, "wave_s.p50", wave_p50, "s", f"n={len(walls)}")
            emit(report, "wave_s.tail", *tail_row(walls))
            emit(report, "invalidate_s.p50", median(inval) if inval else None, "s",
                 f"n={len(inval)}")
            emit(report, "invalidate_s.tail", *tail_row(inval))
            emit(report, "ops_failed_ratio", failed / len(all_ops), "ratio",
                 f"{failed}/{len(all_ops)}")
            emit(report, "driver_rss_peak_mb",
                 resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB")
            emit(report, "jvm_rss_peak_mb", jvm_hwm_mb(spark), "MB")
            emit(report, "store_bytes_per_offer",
                 median([o["store_bytes"] / max(o["offers"], 1) for o in good]), "B")
            save_untraced(w.name, args.seed, pps, wave_p50)
        else:
            import layers

            report += layers.report(
                spark=spark, w=w, inputs=inputs, cfg=cfg, k=k, ops=good,
                tracer=tracer, ledger=ledger, snapshot_s=snapshot_s, exp=exp,
                pps=pps, wave_p50=wave_p50,
                untraced=load_untraced(w.name, args.seed))
            os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "spans", f"{w.name}-{args.seed}.jsonl"))
        correct = failed == 0 and not any("CHECK FAILED" in r[3] for r in report)
        print(f"# {w.name} seed={args.seed} trace={args.trace} k={k} "
              f"seeds={w.n_seeds} pages/seed={w.end_page} host_tokens={w.host_tokens} "
              f"bloom_spool={w.bloom_spool} invalidations/op={w.invalidations} "
              f"ops={len(ops)} window={args.seconds:g}s")
        for name, value, unit, note in report:
            shown = "n/a" if value is None else f"{value:.6g}"
            print(f"{w.name:14s} {name:32s} {shown:>12s} {unit:6s} {note}")
        gated = gated_metrics(args.trace)
        metrics = {name: {"value": float(value), "unit": unit}
                   for name, value, unit, _ in report
                   if name in gated and value is not None}
        missing = sorted(set(gated) - set(metrics))
        if missing:
            print(f"missing metrics: {missing}", file=sys.stderr)
            correct = False
            for name in missing:
                metrics[name] = {"value": 0.0, "unit": gated[name]}
        print(json.dumps({"correct": correct, "attempted": len(all_ops),
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def gated_metrics(trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def _untraced_path(wname: str, seed: int) -> str:
    return os.path.join(WORK_ROOT, "untraced", f"{wname}-{seed}.json")


def _code_fingerprint() -> str:
    """The program and benchmark source this run measures (the checkout
    need not be a git repository, so no commit id is used)."""
    from reference import source_fingerprint

    return source_fingerprint(("cianparser_spark", "perfbench"))


def save_untraced(wname: str, seed: int, pps: float, wave_p50: float) -> None:
    path = _untraced_path(wname, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"pages_per_s": pps, "wave_s.p50": wave_p50,
                   "code": _code_fingerprint(), "at": time.time()}, fh)


def load_untraced(wname: str, seed: int) -> dict | None:
    """The latest untraced figures of this seed, if they were measured on
    the same source."""
    try:
        with open(_untraced_path(wname, seed)) as fh:
            out = json.load(fh)
    except (OSError, ValueError):
        return None
    return out if out.get("code") == _code_fingerprint() else None


if __name__ == "__main__":
    sys.exit(main())
