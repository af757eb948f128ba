#!/usr/bin/env python3
"""Crawl benchmark for the eastmoneygubacrawler_spark package.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload recrawl_purge --seed 1 --seconds 10 --trace 0

One client in one process drives the package on ``local[<cores>]`` in a
closed loop: the next operation starts only after the previous one returned
and its outputs were checked.  Inputs come from the fixture generators and
depend only on ``--seed``; they are cached on disk by seed.  The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` holding the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``).  Per-operation samples, spans and
check failures go to ``.perfbench_work/out/``; check failures also go to
stderr.  ``BENCHMARK.json`` and ``perfbench/LAYERS.md`` define the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = "eastmoneygubacrawler_spark"

PHASES = ("schedule", "list_fetch_parse", "horizon_misc", "posts_project",
          "text_fetch_extract", "comment_fetch", "assemble", "commit")

# name -> (unit, better); the order is the print order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_s": ("s", "lower"),
    "units_per_s": ("1/s", "higher"),
    "text_match_rate": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}
PER_LAYER = {
    "crawl.round_s": ("s", "lower"),
    "crawl.jobs": ("count", "lower"),
    "crawl.stages": ("count", "lower"),
    "crawl.tasks": ("count", "lower"),
    "crawl.task_busy_frac": ("ratio", "higher"),
    **{f"crawl.phase.{p}_s": ("s", "lower") for p in PHASES},
    "frontier.waves": ("count", "lower"),
    "fetch.calls": ("count", "lower"),
    "fetch.hit_ratio": ("ratio", "higher"),
    "fetch.scan_bytes": ("bytes", "lower"),
    "fetch.shuffle_bytes": ("bytes", "lower"),
    "extract.python_s": ("s", "lower"),
    "extract.rows": ("count", "higher"),
    "store.commit_s": ("s", "lower"),
    "store.commit_calls": ("count", "lower"),
    "store.bytes_written": ("bytes", "lower"),
    "store.files_written": ("count", "lower"),
    "seen.index_bytes": ("bytes", "lower"),
    "purge.s": ("s", "lower"),
    "purge.jobs": ("count", "lower"),
    "purge.urls": ("count", "higher"),
    "dedup.exact_s": ("s", "lower"),
    "dedup.minhash_lsh_s": ("s", "lower"),
    "dedup.simhash_s": ("s", "lower"),
    "dedup.winnow_s": ("s", "lower"),
    "dedup.lsh_pairs": ("count", "higher"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "trace.op_s": ("s", "lower"),
}


class Failed(Exception):
    """An operation's outputs did not match the expected ones."""


class Bench:
    """Shared state of one benchmark process."""

    def __init__(self, spark, tracer, cores: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.trace = trace

    def highest_job_id(self) -> int:
        # the change in the highest job id counts jobs; the length of the
        # retained-job list does not (it wraps past spark.ui.retainedJobs)
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)


# ------------------------------------------------------------------ inputs


def write_parquet(rows: list[dict], schema, path: Path) -> None:
    """Input tables are written with pyarrow, not Spark, so that making the
    inputs costs no Spark jobs (and leaves no Spark state warm)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name("." + path.name)  # Spark skips dot files
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    tmp.rename(path)


def _pages_arrow():
    import pyarrow as pa

    return pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                      ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


# ------------------------------------------------------------------ checks


def store_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def index_bytes(store) -> int:
    """Bytes of the seen-set and posts-key filter blobs the manifest points at."""
    tables = (store.manifest() or {}).get("tables", {})
    total = 0
    for name in ("seen_bloom", "seen_cuckoo", "posts_bloom"):
        for rel in tables.get(name, {}).get("paths", []):
            total += sum(store_files(os.path.join(store.root, rel)).values())
    return total


def posts_rows(bench: Bench, store) -> list:
    rows = (
        store.load(bench.spark, "posts")
        .select("stock_code", "content_type", "url_id", "url", "full_text", "crawl_seq")
        .collect()
    )
    return sorted(rows, key=lambda r: r.crawl_seq)


def check_fresh_posts(rows: list, golden: list[dict]) -> None:
    """Posts equal the reference simulator's: same count, dense crawl_seq
    1..N, same crawl order, byte-identical full_text."""
    errors = []
    if len(rows) != len(golden):
        errors.append(f"posts count {len(rows)} != reference {len(golden)}")
    if [r.crawl_seq for r in rows] != list(range(1, len(rows) + 1)):
        errors.append("crawl_seq is not dense 1..N")
    got = [(r.stock_code, r.content_type, r.url_id) for r in rows]
    exp = [(p["stock_code"], p["content_type"], p["url_id"]) for p in golden]
    if got != exp:
        errors.append("crawl order differs from the reference simulator")
    want = {p["url"]: p["full_text"] for p in golden}
    texts = [r for r in rows if r.full_text is not None]
    matched = sum(1 for r in texts if r.full_text == want.get(r.url))
    if {r.url: r.full_text for r in rows} != want:
        errors.append(f"full_text differs: {len(texts) - matched} of {len(texts)} texts")
    if errors:
        raise Failed("; ".join(errors))


# --------------------------------------------------------------- workloads


class RecrawlPurge:
    """Set-up fills a store with one untimed round over a seeded fixture
    corpus (pages, seeds, robots and the politeness table, written to parquet
    once per seed); each timed cycle purges PURGE_FRAC of the stored posts
    with purge_urls and runs the round that fetches them again."""

    PURGE_FRAC = 0.05
    n_stocks = 8
    max_count = 160
    max_depth = 1
    # the fixture seed is the first of eight derived from --seed whose corpus
    # yields TARGET_POSTS posts within 3% (else the closest), so every seed
    # gives about the same amount of work (corpus sizes otherwise spread by
    # ~14% between seeds)
    TARGET_POSTS = 1900

    def __init__(self, bench: Bench, seed: int):
        self.bench = bench
        self.seed = seed

    def fixture(self, fseed: int):
        from eastmoneygubacrawler_spark.fixtures import FixtureConfig

        return FixtureConfig(seed=fseed, n_stocks=self.n_stocks,
                             max_count=self.max_count, adversarial=True)

    def prepare(self) -> None:
        from eastmoneygubacrawler_spark.fixtures import build_corpus, simulate_reference_crawl

        self.dir = (WORK / "inputs" / f"crawl-{self.n_stocks}-{self.max_count}-"
                    f"{self.TARGET_POSTS}-{self.seed}")
        seed_file = self.dir / "fixture_seed"
        if seed_file.exists():
            self.corpus = build_corpus(self.fixture(int(seed_file.read_text())))
            return
        best = None
        for j in range(8):
            fcfg = self.fixture(self.seed * 1000 + j)
            corpus = build_corpus(fcfg)
            miss = abs(len(simulate_reference_crawl(corpus)["posts"]) - self.TARGET_POSTS)
            if best is None or miss < best[0]:
                best = (miss, fcfg, corpus)
            if miss <= 0.03 * self.TARGET_POSTS:
                break
        _, fcfg, self.corpus = best
        shutil.rmtree(self.dir, ignore_errors=True)
        pages = self.corpus["pages"]
        parts = self.bench.cores
        for i in range(parts):
            write_parquet(pages[i::parts], _pages_arrow(),
                          self.dir / "pages.parquet" / f"part-{i}.parquet")
        for name in ("seeds", "robots", "politeness"):
            write_parquet(self.corpus[name], None,
                          self.dir / f"{name}.parquet" / "part-0.parquet")
        seed_file.write_text(str(fcfg.seed))

    def reference(self) -> None:
        from eastmoneygubacrawler_spark.fixtures import simulate_reference_crawl

        self.golden = simulate_reference_crawl(self.corpus)["posts"]
        self.want = {p["url"]: p["full_text"] for p in self.golden}

    def load(self) -> None:
        from eastmoneygubacrawler_spark.engine import CrawlConfig

        self.pages, self.seeds, self.robots, self.politeness = (
            self.bench.spark.read.parquet(str(self.dir / f"{t}.parquet"))
            for t in ("pages", "seeds", "robots", "politeness"))
        self.pages.select("url").count()
        self.cfg = CrawlConfig(n_shards=8, fetch_partitions=self.bench.cores,
                               max_depth=self.max_depth)

    def round(self, store, layer: dict, windows: list) -> dict:
        """One run_crawl call on ``store`` with its per-layer numbers."""
        from eastmoneygubacrawler_spark.engine import run_crawl
        from eastmoneygubacrawler_spark.engine.fetch import FixtureFetcher

        class CountingFetcher(FixtureFetcher):
            calls = 0

            def fetch(self, scheduled, broadcast=None):
                self.calls += 1
                return super().fetch(scheduled, broadcast)

        b = self.bench
        fetcher = CountingFetcher(self.pages, broadcast_scheduled=self.cfg.broadcast_fetch)
        job0 = b.highest_job_id()
        files0 = store_files(store.root) if b.trace else {}
        with b.tracer.span("run_crawl") as sp:
            m = run_crawl(b.spark, store, self.pages, self.seeds, self.robots,
                          self.politeness, self.cfg, fetcher=fetcher)
        windows.append(("crawl", sp["start_ms"], sp["end_ms"], sp["wall"]))
        layer.update({
            "crawl.round_s": sp["wall"],
            "crawl.jobs": b.highest_job_id() - job0,
            "frontier.waves": m["waves"],
            "fetch.calls": fetcher.calls,
            "store.commit_s": m["phases"].get("commit", 0.0),
            **{f"crawl.phase.{p}_s": m["phases"].get(p, 0.0) for p in PHASES},
        })
        if b.trace:
            from pyspark.sql import functions as F

            # fetches logged by the round, less the urls the frontier holds
            # as failed or awaiting retry (a fetch that returned no html)
            logged = (store.load(b.spark, "crawl_log").filter(F.col("round") == m["round"])
                      .agg(F.sum("fetched")).first()[0]) or 0
            misses = (store.load(b.spark, "frontier")
                      .filter(F.col("status").isin("failed", "retry")).count())
            files1 = store_files(store.root)
            added = [p for p in files1 if p not in files0]
            layer.update({
                "fetch.hit_ratio": (logged - misses) / logged if logged else 0.0,
                "store.bytes_written": sum(files1[p] for p in added),
                "store.files_written": len(added),
                "seen.index_bytes": index_bytes(store),
            })
        return m


    def warmup(self) -> None:
        from eastmoneygubacrawler_spark.storage import SnapshotStore

        root = WORK / "stores" / "recrawl"
        shutil.rmtree(root, ignore_errors=True)
        self.store = SnapshotStore(str(root))
        self.round(self.store, {}, [])
        rows = posts_rows(self.bench, self.store)
        self.high_water = max(r.crawl_seq for r in rows)
        check_fresh_posts(rows, self.golden)

    def op(self, i: int) -> dict:
        from eastmoneygubacrawler_spark.engine import purge_urls
        from pyspark.sql import functions as F

        b = self.bench
        rng = random.Random(self.seed * 1000 + i)
        k = max(1, round(self.PURGE_FRAC * len(self.golden)))
        urls = sorted(rng.sample(sorted(u for u, t in self.want.items() if t is not None), k))
        url_df = b.spark.createDataFrame([(u,) for u in urls], "url string")
        layer, windows = {}, []
        with b.tracer.span("op", i=i) as sp:
            job0, round0 = b.highest_job_id(), self.store.current_round()
            with b.tracer.span("purge_urls") as ps:
                pm = purge_urls(b.spark, self.store, url_df)
            windows.append(("purge", ps["start_ms"], ps["end_ms"], ps["wall"]))
            layer.update({"purge.s": ps["wall"], "purge.jobs": b.highest_job_id() - job0,
                          "purge.urls": pm["urls_purged"]})
            m = self.round(self.store, layer, windows)
        layer["store.commit_calls"] = self.store.current_round() - round0

        rows = posts_rows(b, self.store)
        errors = []
        if pm["urls_purged"] != k:
            errors.append(f"purge_urls purged {pm['urls_purged']} of {k} urls")
        if m["posts_new"] != k:
            errors.append(f"round re-created {m['posts_new']} posts, expected {k}")
        if len(rows) != len(self.golden):
            errors.append(f"posts count {len(rows)} != {len(self.golden)}")
        if len({r.crawl_seq for r in rows}) != len(rows):
            errors.append("crawl_seq has duplicates")
        purged = set(urls)
        back = [r for r in rows if r.url in purged]
        if sorted(r.url for r in back) != urls:
            errors.append("purged urls did not come back exactly once each")
        if any(r.crawl_seq <= self.high_water for r in back):
            errors.append("a refetched post reused a crawl_seq")
        seen = (self.store.load(b.spark, "seen").filter(F.col("url").isin(urls))
                .groupBy("url").count().collect())
        if sorted(r["url"] for r in seen) != urls or any(r["count"] != 1 for r in seen):
            errors.append("purged urls are not in seen exactly once")
        matched = sum(1 for r in back if r.full_text == self.want[r.url])
        if matched != k:
            errors.append(f"refetched full_text differs on {k - matched} of {k}")
        if errors:
            raise Failed("; ".join(errors))
        self.high_water = rows[-1].crawl_seq
        return dict(wall=sp["wall"], units=m["urls_fetched"], texts=k,
                    matched=matched, layer=layer, windows=windows,
                    window=(sp["start_ms"], sp["end_ms"]))


def _norm(text: str | None) -> str:
    # same normalisation as operators.dedup.norm_text: lower-case, ASCII
    # whitespace runs collapsed to one space, spaces trimmed
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", (text or "").lower()).strip(" ")


class DedupPass:
    """Exact + MinHash-LSH + SimHash + winnow (k=25, w=50) over the first
    N_DOCS post texts of a seeded fixture corpus; the crawl commits these
    texts byte-identical (text_match_rate on recrawl_purge checks that)."""

    N_DOCS = 4000

    def __init__(self, bench: Bench, seed: int):
        self.bench = bench
        self.seed = seed

    def prepare(self) -> None:
        from eastmoneygubacrawler_spark.fixtures import FixtureConfig, build_corpus

        self.path = WORK / "inputs" / f"docs-{self.N_DOCS}-{self.seed}.parquet"
        if (self.path / "part-0.parquet").exists():
            return
        texts, n_stocks = [], 16
        while len(texts) < self.N_DOCS:
            n_stocks += 4
            corpus = build_corpus(FixtureConfig(seed=self.seed, n_stocks=n_stocks,
                                                adversarial=False))
            texts = [p["text"] for p in corpus["pages"] if p["text"] is not None]
        docs = [{"doc_id": i, "text": t} for i, t in enumerate(texts[: self.N_DOCS])]
        write_parquet(docs, None, self.path / "part-0.parquet")

    def load(self) -> None:
        self.docs = self.bench.spark.read.parquet(str(self.path)).cache()
        self.n_docs = self.docs.count()

    def reference(self) -> None:
        self.hash_of = {r.doc_id: hashlib.md5(_norm(r.text).encode("utf-8")).hexdigest()
                        for r in self.docs.collect()}
        groups: dict[str, list[int]] = {}
        for doc_id, h in self.hash_of.items():
            groups.setdefault(h, []).append(doc_id)
        self.exact_ref = {h: (min(ids), len(ids)) for h, ids in groups.items()}
        self.first = None

    def run_pass(self, layer: dict, windows: list) -> dict:
        from eastmoneygubacrawler_spark.operators import dedup as D

        b = self.bench
        steps = [
            ("exact", lambda: D.exact_dedup(self.docs)),
            ("minhash_lsh", lambda: D.minhash_lsh_pairs(self.docs)),
            ("simhash", lambda: D.simhash_near_dups(self.docs)),
            ("winnow", lambda: D.winnow_pairs(self.docs, k=25, w=50)),
        ]
        out = {}
        for name, call in steps:
            with b.tracer.span(name) as sp:
                out[name] = call().collect()
            windows.append((name, sp["start_ms"], sp["end_ms"], sp["wall"]))
            layer[f"dedup.{name}_s"] = sp["wall"]
        layer["dedup.lsh_pairs"] = len(out["minhash_lsh"])
        return {
            "exact": {r.content_hash: (r.rep_id, r.dup_count) for r in out["exact"]},
            **{k: sorted((r.id_a, r.id_b) for r in out[k])
               for k in ("minhash_lsh", "simhash", "winnow")},
        }

    def warmup(self) -> None:
        got = self.run_pass({}, [])
        self.check(got)
        self.first = got

    def check(self, got: dict) -> int:
        """Exact groups equal the md5(norm(text)) reference, pairs are
        well-formed, and every pass returns the warm-up pass's pairs.
        Returns the number of docs whose exact group matches."""
        matched = sum(1 for h in self.hash_of.values()
                      if got["exact"].get(h) == self.exact_ref[h])
        if matched != len(self.hash_of) or len(got["exact"]) != len(self.exact_ref):
            raise Failed(f"exact_dedup groups differ from the reference on "
                         f"{len(self.hash_of) - matched} docs")
        for k in ("minhash_lsh", "simhash", "winnow"):
            pairs = got[k]
            if any(a >= b or a not in self.hash_of or b not in self.hash_of
                   for a, b in pairs):
                raise Failed(f"{k}: malformed pair")
            if self.first is not None and pairs != self.first[k]:
                raise Failed(f"{k}: pairs differ from the warm-up pass on the same input")
        return matched

    def op(self, i: int) -> dict:
        layer, windows = {}, []
        with self.bench.tracer.span("op", i=i) as sp:
            got = self.run_pass(layer, windows)
        matched = self.check(got)
        return dict(wall=sp["wall"], units=self.n_docs, texts=self.n_docs,
                    matched=matched, layer=layer, windows=windows,
                    window=(sp["start_ms"], sp["end_ms"]))


WORKLOADS = {
    "recrawl_purge": RecrawlPurge,
    "dedup_pass": DedupPass,
}


# ----------------------------------------------------------------- session


def start_spark(trace: bool, cores: int):
    """The benchmark's own session: the package's get_spark with console
    progress off and every scratch path inside the work directory."""
    from eastmoneygubacrawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        log_dir = WORK / "eventlog"
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(ops: list[dict], events, cores: int) -> dict:
    """Median over the timed operations of each per-layer number; task-level
    numbers come from the event log windows of each call."""
    rows = []
    for op in ops:
        layer = dict(op["layer"])
        for kind, start, end, wall in op["windows"]:
            w = events.window(start, end)
            if kind == "crawl":
                layer.update({
                    "crawl.stages": w["stages"], "crawl.tasks": w["tasks"],
                    "crawl.task_busy_frac": w["run_s"] / (wall * cores),
                    "fetch.scan_bytes": w["scan_bytes"],
                    "fetch.shuffle_bytes": w["shuffle_bytes"],
                    "extract.python_s": w["extract_python_s"],
                    "extract.rows": w["extract_rows"],
                })
        whole = events.window(*op["window"])
        layer.update({"spark.gc_s": whole["gc_s"], "spark.spill_bytes": whole["spill_bytes"],
                      "trace.op_s": op["wall"]})
        rows.append(layer)
    return {name: _median([r.get(name, 0) for r in rows]) for name in PER_LAYER}


def run(args) -> dict:
    from tracing import EventLog, PeakMemory, Tracer, read_event_log, stop_jvm

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = start_spark(bool(args.trace), cores)
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    jvm_proc = SparkContext._gateway.proc  # the Popen of the Spark JVM
    memory = PeakMemory(jvm_proc.pid)
    bench = Bench(spark, tracer, cores, bool(args.trace))
    wl = WORKLOADS[args.workload](bench, args.seed)
    ops, errors = [], []
    try:
        with tracer.span("prepare") as prep:
            wl.prepare()  # input generation: outside setup_s
        t1 = time.perf_counter()
        with tracer.span("load"):
            wl.load()
        load_s = time.perf_counter() - t1
        with tracer.span("reference"):
            wl.reference()  # expected outputs for the checks: outside setup_s
        t2 = time.perf_counter()
        with tracer.span("warmup"):
            try:
                wl.warmup()
            except Failed as e:
                errors.append(f"warm-up: {e}")
        setup_s = session_s + load_s + time.perf_counter() - t2

        t_run = time.perf_counter()
        attempted = 0
        while attempted == 0 or time.perf_counter() - t_run < args.seconds:
            attempted += 1
            try:
                ops.append(wl.op(attempted))
            except Failed as e:
                errors.append(f"op {attempted}: {e}")
            except Exception:  # noqa: BLE001 - reported as a failed op
                errors.append(f"op {attempted}: {traceback.format_exc()}")
                break
    finally:
        t3 = time.perf_counter()
        spark.stop()
        stop_jvm(jvm_proc)
        memory.stop()
        teardown_s = time.perf_counter() - t3

    for e in errors:
        print(f"perfbench: {args.workload}: {e}", file=sys.stderr)
    walls = [op["wall"] for op in ops]
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "setup": {"session_s": session_s, "load_s": load_s, "setup_s": setup_s,
                        "prepare_s": prep["wall"], "teardown_s": teardown_s},
              "op_s": {"n": len(walls), "samples": walls,
                       "p50": _median(walls), "max": max(walls, default=0.0),
                       # the highest percentile with ten samples beyond it
                       "highest_supported_pct": (100 * (1 - 10 / len(walls))
                                                 if len(walls) > 10 else None)},
              "errors": errors, "ops": [op["layer"] for op in ops]}
    if args.trace:
        events = EventLog(read_event_log(WORK / "eventlog"))
        values = layer_metrics(ops, events, cores) if ops else {k: 0 for k in PER_LAYER}
        units = PER_LAYER
        tracer.write(WORK / "out" / f"spans-{args.workload}-{args.seed}.json")
        shutil.rmtree(WORK / "eventlog", ignore_errors=True)
    else:
        texts = sum(op["texts"] for op in ops)
        values = {
            "setup_s": setup_s,
            "op_s": _median(walls),
            "units_per_s": _median([op["units"] / op["wall"] for op in ops]),
            "text_match_rate": sum(op["matched"] for op in ops) / texts if texts else 0.0,
            "peak_rss_mb": memory.peak / 2**20,
        }
        units = END_TO_END
    detail["metrics"] = values
    out = WORK / "out" / f"{args.workload}-{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, indent=1))
    failed = attempted - len(ops)
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k][0]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        # one process per workload; the last line maps workload -> result
        results = {}
        for name in WORKLOADS:
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            results[name] = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        print(json.dumps(results))
        return 0 if all(results.values()) else 1

    # every scratch path (JVM temp files, Python temp files, Spark local
    # dirs) stays inside the checkout's work directory
    for d in ("tmp", "out", "inputs", "stores"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    ).strip()
    # the Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
