"""Per-layer metrics of the traced run.

Counts and times come from the spans recorded around the engine's
entry points (``spans.py``) and from Spark's status store; the
microbench legs call the same functions the crawler calls, in this
process, on the workload's own data:

* ``stage``: the ``make_fetch_parse`` kernel on one core over every
  list page of the workload (served from the snapshot).
* ``columnar``: ``columnar.widen`` over that kernel's output.
* ``seenidx``: ``probe_str_runs`` over the committed string runs, half
  present and half absent keys.
* ``bloom``: the committed ``bloom`` table loaded with
  ``bloom.load_spool_filters``, probed with the same keys.

A crawl that committed no string runs or no ``bloom`` table (driver
sidecar mode, as on ``bulk``) gets no probe: those metrics read 0.

Per-operation counts are taken from the first measured operation, so
they repeat exactly for a given seed.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

from spans import uncovered


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _root(tracer, s: dict) -> dict:
    while s["parent"] is not None:
        s = tracer.spans[s["parent"]]
    return s


def report(*, spark, w, inputs, cfg, k, ops, tracer, ledger,
           snapshot_s, exp, pps, wave_p50, untraced) -> list[tuple]:
    """(name, value, unit, note) for every per-layer metric."""
    out: list[tuple] = []

    def emit(name, value, unit, note=""):
        out.append((name, value, unit, note))

    if not ops:
        return out

    from cianparser_spark.engine import seenidx

    first = ops[0]
    eng = first["engine"]

    # ---------------------------------------------------------- crawler
    waves = []
    for o in ops:
        for t0, t1, j0, j1 in o["waves"]:
            h = ledger.harvest(j0, j1)
            h["wall"] = t1 - t0
            h["driver_s"] = uncovered(t0, t1, h["intervals"])
            waves.append(h)
    emit("crawler.jobs_per_wave", _median([h["jobs"] for h in waves]), "count")
    emit("crawler.tasks_per_wave", _median([h["tasks"] for h in waves]), "count")
    emit("crawler.driver_s_per_wave", _median([h["driver_s"] for h in waves]), "s")
    emit("crawler.executor_busy_share",
         _median([h["executor_run_s"] / (h["wall"] * k) for h in waves]), "ratio")
    emit("crawler.waves", len(first["waves"]), "count")
    emit("crawler.dup_ratio",
         1.0 - first["emitted"] / first["cards"] if first["cards"] else 0.0, "ratio")

    # ------------------------------------------------------ stage, widen
    stage_pps, raw_pdf = stage_leg(inputs, cfg)
    emit("stage.pages_per_s", stage_pps, "1/s")
    emit("columnar.rows_per_s", widen_leg(spark, inputs, raw_pdf), "1/s")

    # ------------------------------------------------------------ store
    measured = {o["id"] for o in ops}
    commits = [s for s in tracer.select("store.commit") if s["op"] in measured]
    emit("store.commit_s.p50", _median([_dur(s) for s in commits]), "s")
    emit("store.commits", sum(s["op"] == first["id"] for s in commits), "count")
    crawl_reads = [s for s in tracer.select("store.read", first["id"])
                   if s["parent"] is not None
                   and _root(tracer, s)["name"] == "engine.run"]
    emit("store.read_calls_per_wave",
         len(crawl_reads) / max(len(first["waves"]), 1), "count")
    emit("store.files", first["store_files"], "count")
    emit("store.bytes", first["store_bytes"], "B")

    # ------------------------------------------------- seenidx, bloom
    # Only what the crawl itself built and committed: a sidecar mode
    # that keeps no string runs (driver mode) or a crawl that committed
    # no ``bloom`` table reports zero calls, zero run files and nothing
    # probed.
    from cianparser_spark.engine.bloom import load_spool_filters

    builds = [s for s in tracer.select("seenidx.write_str_runs") if s["op"] in measured]
    emit("seenidx.build_s", _median([_dur(s) for s in builds if not s["rebuild"]]), "s",
         f"{sum(not s['rebuild'] for s in builds)} delta write_str_runs calls")
    emit("seenidx.rebuild_s", _median([_dur(s) for s in builds if s["rebuild"]]), "s",
         f"{sum(s['rebuild'] for s in builds)} full write_str_runs calls")
    emit("seenidx.rebuild_keys",
         sum(s["keys"] for s in builds if s["rebuild"] and s["op"] == first["id"]), "count")
    roots = tuple(eng.store.table_paths("seenx"))
    emit("seenidx.run_files", len(_run_files(roots)), "count")
    present = _run_keys(roots)
    absent = np.array([f"{i % w.n_seeds + 1}|absent-{i}" for i in range(len(present))],
                      dtype=object)
    keys = np.concatenate([present, absent])
    if len(present):
        rate, hit = _probe_rate(
            lambda: seenidx.probe_str_runs(roots, keys, eng.bloom_buckets), len(keys))
        ok = bool(hit[:len(present)].all()) and not hit[len(present):].any()
        emit("seenidx.probe_keys_per_s", rate, "1/s",
             f"{len(keys)} keys" + ("" if ok else " CHECK FAILED"))
    else:
        emit("seenidx.probe_keys_per_s", 0.0, "1/s", "no committed string runs: nothing probed")

    dirs = tuple(sorted(eng.store.table_paths("bloom")))
    if dirs and len(present):
        filters = load_spool_filters(dirs)
        rate, maybe = _probe_rate(
            lambda: _bloom_probe(filters, keys, eng.bloom_buckets), len(keys))
        ok = bool(maybe[:len(present)].all())  # a Bloom filter has no false negatives
        emit("bloom.maybe_ratio", float(maybe[len(present):].mean()), "ratio",
             f"{len(absent)} absent keys" + ("" if ok else " CHECK FAILED"))
        emit("bloom.probe_keys_per_s", rate, "1/s", f"{len(keys)} keys")
    else:
        note = "no committed bloom table: nothing probed"
        emit("bloom.maybe_ratio", 0.0, "ratio", note)
        emit("bloom.probe_keys_per_s", 0.0, "1/s", note)

    # ---------------------------------------------------- corpus, oracle
    emit("corpus.snapshot_s", snapshot_s, "s")
    emit("sim.pages_per_s", exp["sim_pages"] / exp["sim_s"], "1/s")

    # ------------------------------------------------- traced end to end
    def overhead(key, v):
        if not (untraced and untraced.get(key)):
            return "no untraced run of this seed on this source"
        return f"untraced {untraced[key]:.4g}, ratio {v / untraced[key]:.3f}"

    emit("trace.pages_per_s", pps, "1/s", overhead("pages_per_s", pps))
    emit("trace.wave_s.p50", wave_p50, "s", overhead("wave_s.p50", wave_p50))

    # -------------------------------------------------- engine modes seen
    data = os.path.join(first["run_dir"], "data")
    emit("mode.bloom_spool", int(eng.bloom_spool), "flag")
    emit("mode.codegen_floor_waves", tracer.codegen_off_commits, "count",
         "commits made while whole-stage codegen was off")
    emit("mode.parkreg", int(os.path.isdir(os.path.join(data, "parkreg"))), "flag")
    emit("mode.seenx", int(os.path.isdir(os.path.join(data, "seenx"))), "flag")
    return out


def stage_leg(inputs, cfg):
    """The fetch+parse kernel in this process (one core) over every list
    page; returns (pages/s, the kernel's output rows)."""
    from cianparser_spark.engine import model
    from cianparser_spark.engine.stage import make_fetch_parse

    runtimes = {s.seed_id: model.seed_runtime(s) for s in inputs.seeds}
    rows = []
    for s in inputs.seeds:
        rt = runtimes[s.seed_id]
        host = rt["template"].split("/")[2]
        for p in range(rt["start_page"], rt["end_page"] + 1):
            rows.append((rt["template"].format(p), "list", host, None,
                         s.seed_id, p, -1, 0, 1))
    pdf = pd.DataFrame(rows, columns=["url", "kind", "host", "card_json", "seed_id",
                                      "page_number", "card_index", "attempt", "wave"])
    kernel = make_fetch_parse(runtimes, cfg, in_wave_dedup=True)
    list(kernel(iter([pdf.iloc[:4]])))  # open the snapshot, parse robots
    batches = [pdf.iloc[i:i + 2048] for i in range(0, len(pdf), 2048)]
    t0 = time.perf_counter()
    outs = list(kernel(iter(batches)))
    wall = time.perf_counter() - t0
    return len(pdf) / wall, pd.concat(outs, ignore_index=True)


def widen_leg(spark, inputs, raw_pdf) -> float:
    """``columnar.widen`` over the kernel output, every column computed
    (noop sink); rows out per second, second of two passes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cianparser_spark.engine import columnar, model

    runtimes = {s.seed_id: model.seed_runtime(s) for s in inputs.seeds}
    cols = [f.name for f in model.RAW_STAGE_SCHEMA.fields]
    raw = spark.createDataFrame(raw_pdf[cols], model.RAW_STAGE_SCHEMA).persist()
    raw.count()
    dim = columnar.seed_dim_cols(runtimes) or columnar.seed_dim(spark, runtimes)
    rate = 0.0
    for i in range(2):
        obs = Observation(f"widen-{i}")
        t0 = time.perf_counter()
        (columnar.widen(raw, dim).observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        rate = obs.get["n"] / (time.perf_counter() - t0)
    raw.unpersist()
    return rate


def _run_files(roots) -> list[str]:
    out = []
    for r in roots:
        for d, _, names in os.walk(r):
            out.extend(os.path.join(d, n) for n in names if n.endswith(".skeys"))
    return sorted(out)


def _run_keys(roots) -> np.ndarray:
    """Every key stored in the runs (file format: int64 width, int64
    count, then count fixed-width keys)."""
    keys = []
    for path in _run_files(roots):
        w, n = np.fromfile(path, np.int64, count=2)
        if n:
            arr = np.fromfile(path, f"S{int(w)}", count=int(n), offset=16)
            keys.extend(b.decode("utf-8") for b in arr)
    return np.array(keys, dtype=object)


def _bloom_probe(filters, keys, n_buckets):
    from cianparser_spark.engine import seenidx

    bucket = seenidx.bucket_str(keys, n_buckets)
    out = np.zeros(len(keys), dtype=bool)
    for b, f in filters.items():
        mask = bucket == b
        if mask.any():
            out[mask] = f.contains(keys[mask])
    return out


def _probe_rate(fn, n_keys: int, min_s: float = 0.3):
    """Keys per second over repeated calls (after one warm call)."""
    result = fn()
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        wall = time.perf_counter() - t0
        if wall >= min_s:
            return n_keys * reps / wall, result
