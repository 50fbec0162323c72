"""The three workloads: one closed-loop client each, driving the engine's
public functions the way a user does.

- ``ingest``: the day-by-day ETL loop of ``cli run`` (start, then one
  continue per day over a trailing 3-day window, one lost write healed
  by retry-failed mid-run, a final verify).  Write-heavy, compute-light,
  and the target grows all run.  Only workload that calls
  ``incremental`` and ``catalog``.
- ``prep``: a nightly LLM corpus-prep stage list (registered queries,
  each fully executed and collected).  CPU- and shuffle-heavy,
  writes nothing.  Only workload that calls the dedup, text-analysis
  and cache layers.
- ``serve``: BM25 + IVF index build, then reads beside small mutations
  and compactions on the same generation-pointer / tombstone protocol.
  Only workload that does index work.
"""

from __future__ import annotations

import logging
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

import checks
import gen
import stats

log = logging.getLogger("perfbench")

OP_TIMEOUT_S = 60.0


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    latencies: dict[str, list[float]] = field(default_factory=dict)  # kind -> s
    attempted: int = 0
    failed: int = 0
    loop_s: float = 0.0
    items: float = 0.0  # work done by the workload's steady-state ops ...
    work_s: float = 0.0  # ... in this many seconds
    input_bytes: int = 0
    checks: list[tuple[str, str | None]] = field(default_factory=list)
    details: dict[str, float] = field(default_factory=dict)
    extras: dict[str, float] = field(default_factory=dict)

    def check(self, name: str, error: str | None) -> None:
        self.checks.append((name, error))
        if error:
            log.error("check %s FAILED: %s", name, error)


class OpRunner:
    """Runs one op at a time under a watchdog: past ``OP_TIMEOUT_S`` the
    active jobs are cancelled and the op counts as failed.  An op is
    never re-run."""

    def __init__(self, spark, out: Outcome):
        self.sc = spark.sparkContext
        self.out = out

    def run(self, kind: str, fn):
        fired = threading.Event()

        def cancel():
            fired.set()
            self.sc.cancelAllJobs()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        self.out.attempted += 1
        t0 = time.perf_counter()
        timer.start()
        try:
            result = fn()
            ok = not fired.is_set()
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            log.error("op %s failed:\n%s", kind, traceback.format_exc())
            result, ok = None, False
        finally:
            timer.cancel()
        dt = time.perf_counter() - t0
        if ok:
            self.out.latencies.setdefault(kind, []).append(dt)
        else:
            self.out.failed += 1
        return ok, result, dt


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

ROWS_PER_DAY = 20_000
WINDOW_DAYS = 3
LOST_WRITE_DAY = 4  # a target file is lost after this day's step
# The loop also stops once its wall time passes this many times
# ``seconds``, so failing or timed-out steps end the run early.
WALL_CAP = 3


def run_ingest(spark, tracer, work: Path, seed: int, seconds: float) -> Outcome:
    from pyspark.sql import functions as F

    from newspapers_etl_spark.catalog import load_table
    from newspapers_etl_spark.operators.incremental import run_operation

    out = Outcome()
    runner = OpRunner(spark, out)
    sf_dir = work / "ingest"
    landing = sf_dir / "events.parquet"
    target = str(sf_dir / "target")
    g = gen.IngestGen(seed, ROWS_PER_DAY)
    arrived: list[pa.Table] = []
    landed_per_day: dict[int, int] = {}
    offered = appended = 0
    untimed = 0.0

    def land(k: int) -> None:
        nonlocal untimed
        t0 = time.perf_counter()
        table = g.arrival(k)
        out.input_bytes += gen.write_parquet(landing / f"arrival-{k:05d}.parquet", table)
        arrived.append(table)
        for d, n in zip(*np.unique(gen.day_numbers(table), return_counts=True)):
            landed_per_day[int(d)] = landed_per_day.get(int(d), 0) + int(n)
        untimed += time.perf_counter() - t0

    def step(op: str, lo: int, hi: int):
        with tracer.span("catalog", "load_table"):
            events = load_table(spark, str(sf_dir), "events")
        src = events.filter(
            (F.to_date("ts") >= F.lit(g.day_str(lo)))
            & (F.to_date("ts") <= F.lit(g.day_str(hi)))
        )
        with tracer.span("incremental", "run_operation"):
            result = run_operation(spark, op, src, target, key_cols=["event_id"])
            return result.collect() if op == "verify" else result

    t_loop = time.perf_counter()
    day = 1
    land(day)
    tracer.op = 0
    runner.run("start", lambda: step("start", 1, 1))
    lost_write = False
    # The daily continue steps run for ``seconds``; start, the retry and
    # verify are one-off ops around them.
    while (
        sum(out.latencies.get("continue", [])) < seconds
        and time.perf_counter() - t_loop < WALL_CAP * seconds
    ):
        day += 1
        tracer.op = day
        land(day)
        lo = max(1, day - WINDOW_DAYS + 1)
        ok, n, _ = runner.run("continue", lambda: step("continue", lo, day))
        if ok:
            offered += sum(landed_per_day.get(d, 0) for d in range(lo, day + 1))
            appended += n
        if day == LOST_WRITE_DAY:
            # Simulate a lost write: one committed data file disappears.
            lost_write = True
            files = sorted(Path(target).glob("part-*.parquet"))
            victim = files[int(gen.rng_for(seed, 4).integers(len(files)))]
            victim.unlink()
            crc = victim.with_name(f".{victim.name}.crc")
            crc.unlink(missing_ok=True)
            runner.run("retry-failed", lambda: step("retry-failed", 1, day))
    tracer.op = day + 1
    ok, audit, _ = runner.run("verify", lambda: step("verify", 1, day))
    out.loop_s = time.perf_counter() - t_loop - untimed
    tracer.end_loop()

    truth = pa.concat_tables(arrived)
    # Steady state: rows the daily continue steps appended, per second of
    # those steps (start, the retry and verify are one-off ops).
    out.items = appended
    out.work_s = sum(out.latencies.get("continue", []))
    out.details.update(
        {
            "ingest.days": day,
            "ingest.rows_per_s": truth.num_rows / out.loop_s,
            "ingest.lost_write_healed": float(lost_write),
        }
    )
    out.extras["incremental.append_yield"] = stats.ratio(appended, offered)

    # --- checks (untimed) ---
    if not ok:
        out.check("ingest.verify", "verify op failed")
    else:
        bad = [r["day"] for r in audit if r["status"] != "complete"]
        out.check("ingest.verify", f"incomplete days: {bad}" if bad else None)
    con = duckdb.connect()
    try:
        con.register("truth", truth)
        con.execute(
            f"CREATE VIEW tgt AS SELECT * FROM read_parquet('{target}/*.parquet')"
        )
        digest = (
            "SELECT count(*), count(DISTINCT event_id), "
            "sum(hash(event_id, epoch_us(ts), user_id, event_type, value, props)::HUGEINT) "
            "FROM {}"
        )
        t_rows, t_keys, t_digest = con.execute(digest.format("tgt")).fetchone()
        e_rows, e_keys, e_digest = con.execute(digest.format("truth")).fetchone()
        missing = con.execute(
            "SELECT count(*) FROM (SELECT event_id FROM truth EXCEPT SELECT event_id FROM tgt)"
        ).fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT event_id FROM tgt EXCEPT SELECT event_id FROM truth)"
        ).fetchone()[0]
    finally:
        con.close()
    out.check(
        "ingest.keys",
        None if (missing, extra, t_keys) == (0, 0, e_keys)
        else f"{missing} keys missing, {extra} unexpected, {t_keys} vs {e_keys} distinct",
    )
    out.check(
        "ingest.no_duplicates",
        None if t_rows == t_keys else f"{t_rows - t_keys} duplicate keys",
    )
    out.check(
        "ingest.digest",
        None if (t_rows, t_digest) == (e_rows, e_digest) else "row digest differs",
    )
    return out


# ---------------------------------------------------------------------------
# prep
# ---------------------------------------------------------------------------

PREP_DOCS = 800
# The nightly stage list minus tfidf, shprs, ddemb and cccl (half of a
# cold pass), so that a whole run fits the run budget.  Every layer
# stays covered: text_analysis by tokens/txtql/lgid, dedup by decon and
# lshver, semantic_dedup by semdd.
STAGES = (
    "pipel",
    "tokens",
    "txtql",
    "lgid",
    "decon",
    "lshver",
    "semdd",
)


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def run_prep(spark, tracer, work: Path, seed: int, seconds: float) -> Outcome:
    from newspapers_etl_spark import registry
    from newspapers_etl_spark.cache import clear_all_session_caches
    from newspapers_etl_spark.operators.dedup import LSH_VERIFY_THRESHOLD

    out = Outcome()
    runner = OpRunner(spark, out)
    sf_dir = work / "prep"
    corpus = gen.make_corpus(seed, PREP_DOCS)
    out.input_bytes = gen.write_parquet(sf_dir / "documents.parquet", corpus.docs_table())
    out.input_bytes += gen.write_parquet(sf_dir / "embeddings.parquet", corpus.emb_table())
    queries = registry.all_queries()
    sf = str(sf_dir)
    results: dict = {}

    def stage(name: str):
        fn = queries[name]
        try:
            with tracer.span(fn.__module__.rsplit(".", 1)[-1], name):
                # Collected (Arrow) rather than a noop write, so the timed
                # pass's own results are the ones checked: a second,
                # checking pass would double the run.
                results[name] = fn(spark, sf).toPandas()
            tracer.sample("cache.storage_bytes", lambda: _storage_bytes(spark))
        finally:
            with tracer.span("cache", "clear_all_session_caches"):
                clear_all_session_caches(spark)

    # Whole passes only: start another pass only if it should end in time.
    t_loop = time.perf_counter()
    passes = 0
    while True:
        tracer.op = passes
        results.clear()
        t_pass = time.perf_counter()
        for name in STAGES:
            runner.run(name, lambda name=name: stage(name))
        out.latencies.setdefault("pass", []).append(time.perf_counter() - t_pass)
        passes += 1
        elapsed = time.perf_counter() - t_loop
        if elapsed * (passes + 1) / passes > seconds:
            break
    out.loop_s = time.perf_counter() - t_loop
    tracer.end_loop()
    out.items = PREP_DOCS * passes
    out.work_s = out.loop_s
    out.details["prep.passes"] = passes
    out.details["prep.docs_per_s"] = out.items / out.loop_s
    out.extras["cache.peak_storage_bytes"] = max(tracer.extras.get("cache.storage_bytes", [0]))

    # --- checks (untimed): the last pass's results against DuckDB ---
    oracles = registry.all_oracles()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')"
            )
        for name in STAGES:
            if name not in results:
                out.check(f"prep.{name}", "stage produced no result")
            elif name in oracles:
                want = con.sql(oracles[name]).df()
                out.check(f"prep.{name}", checks.compare(results[name], want))
    finally:
        con.close()

    if "lshver" in results:
        lsh = results["lshver"]
        found = {
            (int(a), int(b)) for a, b, hit in zip(lsh.id_a, lsh.id_b, lsh.is_near_dup) if hit
        }
        hi = [(a, b) for a, b, j in corpus.planted_pairs if j >= LSH_VERIFY_THRESHOLD]
        out.details["prep.neardup_recall"] = stats.ratio(sum(p in found for p in hi), len(hi))
        out.details["prep.planted_pairs"] = len(hi)
        out.extras["dedup.candidates"] = len(lsh)
        out.extras["dedup.candidate_yield"] = stats.ratio(len(found), len(lsh))
    if "decon" in results:
        dc = results["decon"]
        flagged = set(int(d) for d in dc.doc_id[dc.is_clean == 0])
        missed = [d for d in corpus.contaminated if d not in flagged]
        out.check(
            "prep.decon_planted",
            f"planted contamination not flagged: {missed[:5]}" if missed else None,
        )
    return out


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

SERVE_DOCS = 800
SERVE_BASE = 500  # indexed at build; the rest is the append reserve
READ_K = 10
CHECK_EVERY = 2  # a seeded half of the reads is replayed in DuckDB


def run_serve(spark, tracer, work: Path, seed: int, seconds: float) -> Outcome:
    from pyspark.sql import functions as F

    from newspapers_etl_spark.operators import ivf_maintenance as ivf
    from newspapers_etl_spark.operators import retrieval as rt
    from newspapers_etl_spark.sinks.verified import current_pointer

    out = Outcome()
    runner = OpRunner(spark, out)
    root = work / "serve"
    batches = root / "batches"
    bm25, ivf_path = str(root / "bm25"), str(root / "ivf")
    corpus = gen.make_corpus(seed, SERVE_DOCS)
    base = range(SERVE_BASE)
    docs_file, emb_file = root / "documents.parquet", root / "embeddings.parquet"
    out.input_bytes = gen.write_parquet(docs_file, corpus.docs_table(base))
    out.input_bytes += gen.write_parquet(emb_file, corpus.emb_table(base))

    def build():
        docs = spark.read.parquet(str(docs_file))
        emb = spark.read.parquet(str(emb_file))
        with tracer.span("retrieval", "write_bm25_postings"):
            rt.write_bm25_postings(spark, None, bm25, docs=docs)
        with tracer.span("ivf_maintenance", "fit_models"):
            models = ivf.fit_models(emb.filter(F.col("vec_id") % 8 == 0))
        with tracer.span("ivf_maintenance", "build_ivf_index"):
            ivf.build_ivf_index(spark, emb, ivf_path, models=models)

    tracer.op = 0
    ok, _, build_s = runner.run("build", build)
    out.latencies.pop("build", None)
    out.details["serve.build_s"] = build_s if ok else 0.0
    # One untimed warm-up read: a serving process compiles its read path
    # once, so the loop times warm reads.
    rt.retrieval_bm25_topk_from_postings(spark, bm25, terms=("the",), k=READ_K).collect()

    def frame(rows: dict, n: int, index: str, role: str):
        """Land a mutation batch as parquet (untimed) and read it back."""
        if index == "bm25":
            table = pa.table(
                {"doc_id": pa.array(list(rows), pa.int64()), "text": list(rows.values())}
            )
        else:
            table = pa.table(
                {
                    "vec_id": pa.array(list(rows), pa.int64()),
                    "embedding": pa.array(
                        [np.asarray(v, np.float32).tolist() for v in rows.values()],
                        pa.list_(pa.float32()),
                    ),
                }
            )
        path = batches / f"{n:05d}-{index}-{role}.parquet"
        out.input_bytes += gen.write_parquet(path, table)
        return spark.read.parquet(str(path))

    # kind -> (engine function, how the benchmark calls it)
    mutate = {
        "bm25_append": (rt.append_bm25_postings, lambda f, op, o, nw: f(
            spark, None, bm25, batch_id=op["batch_id"], docs=nw)),
        "bm25_delete": (rt.delete_bm25_docs, lambda f, op, o, nw: f(
            spark, o, bm25, batch_id=op["batch_id"])),
        "bm25_upsert": (rt.upsert_bm25_docs, lambda f, op, o, nw: f(
            spark, o, nw, bm25, batch_id=op["batch_id"])),
        "bm25_compact": (rt.compact_bm25_postings, lambda f, op, o, nw: f(spark, bm25)),
        "ivf_append": (ivf.append_ivf_index, lambda f, op, o, nw: f(
            spark, nw, ivf_path, batch_id=op["batch_id"])),
        "ivf_delete": (ivf.delete_from_ivf_index, lambda f, op, o, nw: f(
            spark, o, ivf_path, batch_id=op["batch_id"])),
        "ivf_upsert": (ivf.upsert_ivf_index, lambda f, op, o, nw: f(
            spark, o, nw, ivf_path, batch_id=op["batch_id"])),
        "ivf_compact": (ivf.compact_ivf_codes, lambda f, op, o, nw: f(spark, ivf_path)),
    }
    sampled: list[tuple[tuple[str, ...], list, dict]] = []
    pick = gen.rng_for(seed, 5)
    stream = gen.serve_ops(seed, corpus, SERVE_BASE)
    t_loop = time.perf_counter()
    untimed = 0.0
    n = 0
    while time.perf_counter() - t_loop - untimed < seconds:
        op, state = next(stream)
        n += 1
        tracer.op = n
        kind = op["kind"]
        index = kind.split("_")[0]
        if kind == "read":
            tracer.sample(
                "retrieval.live_roots",
                lambda: len(rt._live_posting_roots(current_pointer(f"{bm25}/stats"))),
            )
            tracer.sample(
                "retrieval.tombstones",
                lambda: len((current_pointer(f"{bm25}/stats") or {}).get("live_tombstones", [])),
            )

            def read(terms=op["terms"]):
                with tracer.span("retrieval", "retrieval_bm25_topk_from_postings"):
                    return rt.retrieval_bm25_topk_from_postings(
                        spark, bm25, terms=terms, k=READ_K
                    ).collect()

            ok, rows, _ = runner.run("read", read)
            if ok and (not sampled or pick.integers(CHECK_EVERY) == 0):
                t0 = time.perf_counter()
                sampled.append(
                    (op["terms"], [(r["doc_id"], r["score"]) for r in rows], dict(state.docs))
                )
                untimed += time.perf_counter() - t0
            continue
        t0 = time.perf_counter()
        old = frame(op["old"], n, index, "old") if "old" in op else None
        new = frame(op["new"], n, index, "new") if "new" in op else None
        untimed += time.perf_counter() - t0
        layer = "retrieval" if index == "bm25" else "ivf_maintenance"
        if index == "ivf":
            tracer.sample(
                "ivf_maintenance.live_roots",
                lambda: len(ivf._live_code_roots(current_pointer(f"{ivf_path}/stats"))),
            )

        def write(op=op, old=old, new=new, layer=layer):
            fn, call = mutate[op["kind"]]
            with tracer.span(layer, fn.__name__):
                call(fn, op, old, new)

        runner.run("write", write)
    out.loop_s = time.perf_counter() - t_loop - untimed
    tracer.end_loop()
    out.items = sum(len(v) for v in out.latencies.values())
    out.work_s = out.loop_s
    live_text = sum(len(t.encode()) for t in state.docs.values())
    index_bytes = dir_bytes(Path(bm25)) + dir_bytes(Path(ivf_path))
    out.details["serve.ops_per_s"] = out.items / out.loop_s
    out.details["serve.space_amp"] = index_bytes / live_text

    # --- checks (untimed): sampled reads replayed in DuckDB ---
    con = duckdb.connect()
    try:
        for i, (terms, rows, docs) in enumerate(sampled):
            live = pa.table(
                {"doc_id": pa.array(list(docs), pa.int64()), "text": list(docs.values())}
            )
            con.register("live", live)
            want = con.sql(checks.bm25_sql(terms, READ_K, "live")).df()
            got = pd.DataFrame(rows, columns=["doc_id", "score"])
            out.check(f"serve.read{i}", checks.compare(got, want))
            con.unregister("live")
    finally:
        con.close()
    shutil.rmtree(batches, ignore_errors=True)
    return out


WORKLOADS = {"ingest": run_ingest, "prep": run_prep, "serve": run_serve}
# The op whose latency is each workload's headline latency.
PRIMARY_OP = {"ingest": "continue", "prep": "pass", "serve": "read"}
# Workload-named latency figures: name prefix -> op kinds.
NAMED_LATENCIES = {
    "ingest": {"ingest.batch": ("start", "continue", "retry-failed", "verify")},
    "prep": {"prep.pass": ("pass",), "prep.stage": STAGES},
    "serve": {"serve.read": ("read",), "serve.write": ("write",)},
}
