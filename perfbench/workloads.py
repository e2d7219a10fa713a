"""The benchmark's workloads: which program calls make one operation,
which operations make one pass, and how the results are checked.

Registry workloads name their queries here, in a fixed list; each pass
runs the list in a fresh seeded order.  The registry's own ordering
(the correctness check-window rotation) is never used.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

from perfbench import checks, datagen

# query_mix: the read side.  CORE + ANALYTICS queries, the reference's
# own read surface (the games endpoint, top-N, daily counts,
# sessionization, ROI, forecasting, the star-schema join), plus one
# availableNow stream-stream join over ``events``, so the checkpoint,
# state-store and watermark path is measured too, and the two cheapest
# ``llm/`` registry queries of the dedup and similarity-search families.
# Listed slowest-cold first: the pooled warm-up takes them in this order.
QUERY_MIX = [
    "stream_stream_join",
    "win_sessionize_gap",
    "agg_daily_counts",
    "api_read_sample",
    "llm_sim_search",
    "udtf_forecast",
    "join_dim_fact",
    "agg_roi_discount",
    "llm_dedup_exact",
    "topk_latest5",
]

WORKLOADS = ("daily_ingest", "query_mix")


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass."""
    return random.Random(f"{seed}/{pass_no}").sample(names, len(names))


def inputs(workload: str, seed: int, root: str):
    """Generate the workload's inputs (before the program is set up):
    the tables directory, or the daily snapshot source."""
    if workload == "daily_ingest":
        days = datagen.DaySource(os.path.join(root, "days"), seed)
        days.next()
        return days
    sf_dir = os.path.join(root, "data")
    datagen.write_tables(sf_dir, seed)
    return sf_dir


def make(workload: str, spark, seed: int, root: str, data):
    if workload == "daily_ingest":
        return IngestOps(spark, root, data)
    return RegistryOps(spark, seed, data, QUERY_MIX)


def source_rows(sf_dir: str, oracle_sql: str) -> int:
    """Rows of the input tables a query reads: those its DuckDB oracle
    names.  Fixed per query, so a throughput over it moves only with the
    query's time, whatever the program skips or re-reads."""
    return sum(
        pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
        for t in duckdb.get_table_names(oracle_sql)
    )


class RegistryOps:
    """Registry queries.  The timed op is the query's plan build plus a
    noop-sink execution.  The first untimed warm-up pass collects every
    result instead, and ``check`` compares those with the DuckDB oracle."""

    def __init__(self, spark, seed: int, sf_dir: str, names: list[str]):
        from steam_data_pipeline_spark.operators.caching import release_spines
        from steam_data_pipeline_spark.plans.registry import QUERIES

        self.spark, self.seed, self.sf_dir, self.names = spark, seed, sf_dir, names
        self.queries = {n: QUERIES[n] for n in names}
        self.source_rows = {n: source_rows(sf_dir, q.oracle) for n, q in self.queries.items()}
        self._release = release_spines
        self.results: dict[str, object] = {}

    def warm_up(self, tracer) -> dict[str, str]:
        """Two untimed passes: one that collects every result for the
        check, then one of the timed op itself.  The collecting pass is
        the cold one; it runs its queries in list order on a pool of at
        most one thread per core (the cold cost is mostly driver-side
        JIT and codegen, so this halves it); the tracer is off meanwhile.
        The noop pass runs like a timed pass: a first noop pass reads
        slower and far less steadily than later ones, also after a
        pooled one, so it is not timed."""
        def collect(name: str) -> None:
            self.results[name] = checks.spark_frame(self.build(name))

        failed = _pooled(collect, self.names)
        self.cleanup()
        for name in pass_order(self.names, self.seed, -1):
            if name in failed:
                continue
            try:
                self.run(name, tracer)
            except Exception as e:  # noqa: BLE001 - a failing op is a result
                failed[name] = f"{type(e).__name__}: {str(e)[:300]}"
            self.cleanup()
        return failed

    def pass_ops(self, pass_no: int) -> list[str]:
        return pass_order(self.names, self.seed, pass_no)

    def build(self, name: str):
        return self.queries[name].spark(self.spark, self.sf_dir)

    def run(self, name: str, tracer) -> dict:
        with tracer.span("plans.build"):
            df = self.build(name)
        with tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()
        return {}

    def after_op(self, res: dict, tracer, traced: bool) -> None:
        pass

    def cleanup(self) -> None:
        # Models and checkpoints leave cached blocks behind; drop them
        # so one query's leftovers do not tax the next.
        self._release()
        self.spark.catalog.clearCache()

    def check(self) -> dict[str, str]:
        """Mismatches by op name (empty when every result matches)."""
        from steam_data_pipeline_spark import difftest

        con = difftest.duckdb_connect(self.sf_dir)
        bad = {}
        for name, got in self.results.items():
            why = checks.oracle_mismatch(con, name, got, self.queries[name].oracle)
            if why:
                bad[name] = why
        con.close()
        return bad

    def rows(self, sample: dict) -> int:
        return self.source_rows[sample["op"]]

    def plan_frames(self, tracer) -> list:
        """One DataFrame per op of a pass, for the plan counters."""
        frames = []
        for name in self.names:
            frames.append(self.build(name))
            self.cleanup()
        return frames

    def layer_metrics(self, traced_samples: list[dict], n: int) -> dict:
        """The ``llm`` layer's two waste ratios, from its public
        functions on this run's tables, outside the timed passes:
        the share of MinHash candidate pairs that exact 3-gram Jaccard
        verifies (``llm_dedup_near``'s settings), and IVF top-10 recall
        against brute force (``llm_sim_ivf``'s settings)."""
        from pyspark.sql import functions as F
        from steam_data_pipeline_spark.llm import dedup, simsearch
        from steam_data_pipeline_spark.sources.tables import read_table

        docs = read_table(self.spark, self.sf_dir, "documents")
        cand = dedup.minhash_candidate_pairs(docs).select("a", "b").localCheckpoint()
        exact = dedup.jaccard_pairs(docs, min_jaccard=0.6).select("a", "b")
        verified = cand.join(exact, ["a", "b"], "left_semi").count()
        emb = read_table(self.spark, self.sf_dir, "embeddings")
        queries = emb.filter(
            (F.col("vec_id") < 5) & F.col("embedding").isNotNull() & (F.size("embedding") > 0)
        ).select(F.col("vec_id").alias("query_id"), "embedding")
        ann = simsearch.ivf_topk(emb, queries, k=10, n_probe=6).select("query_id", "vec_id")
        truth = simsearch.brute_force_topk(emb, queries, k=10).select("query_id", "vec_id")
        hits = ann.join(truth, ["query_id", "vec_id"], "left_semi").count()
        out = {
            "llm.dedup_candidate_yield": verified / max(cand.count(), 1),
            "llm.ann_recall": hits / max(truth.count(), 1),
        }
        self.cleanup()
        return out


class IngestOps:
    """One op = the next day's snapshot through ``run_ingest_once``
    into the run's one ``ParquetTableStore``, under a ``FileRunJournal``;
    a pass is one day.  After each commit the API reads run, timed on
    their own.  The fact table gains files every day, so later reads
    see the store grow.  At the end the tables are checked against an
    independent DuckDB computation over the days ingested."""

    def __init__(self, spark, root: str, days: datagen.DaySource):
        from steam_data_pipeline_spark.operators.state import FileRunJournal
        from steam_data_pipeline_spark.operators.upsert import ParquetTableStore

        self.spark, self.days = spark, days
        self.store = ParquetTableStore(spark, os.path.join(root, "store"))
        self.journal = FileRunJournal(os.path.join(root, "journal.json"))
        self.names = ["day"]
        self.fact_rows = 0
        self.day_rows: list[int] = []
        self.api_times: list[tuple[float, float]] = []
        self.store_stats: list[dict] = []
        self._seen_files: dict[str, int] = {}

    def warm_up(self, tracer) -> dict[str, str]:
        self.after_op(self.run("day", tracer), tracer, False)
        self.cleanup()
        self.api_times.clear()
        return {}

    def pass_ops(self, pass_no: int) -> list[str]:
        return self.names

    def run(self, name: str, tracer) -> dict:
        from steam_data_pipeline_spark.streaming.ingest import run_ingest_once

        out = run_ingest_once(self.spark, self.days.dirs[-1], self.store, self.journal)
        if "skipped" in out:
            raise RuntimeError("journal refused the run")
        fact_new = out["fact_rows"] - self.fact_rows
        self.fact_rows = out["fact_rows"]
        return {"day": len(self.days.dirs) - 1, "fact_new": fact_new, "pool": out["pool"]}

    def after_op(self, res: dict, tracer, traced: bool) -> None:
        """Untimed for the op: the API reads (timed apart), the store's
        write accounting when traced, and the next day's snapshot."""
        from steam_data_pipeline_spark import api

        with tracer.span("api"):
            t0 = time.perf_counter()
            health = api.health(self.store)
            t1 = time.perf_counter()
            sample = api.read_games_sample(self.store)
            self.api_times.append((t1 - t0, time.perf_counter() - t1))
        if not all(health["tables"].values()) or len(sample) != 5:
            raise RuntimeError(f"API reads after commit: {health}, {len(sample)} sample rows")
        self._store_delta(res, traced)
        self.days.next()

    def _store_delta(self, res: dict, traced: bool) -> None:
        from steam_data_pipeline_spark.streaming.ingest import DIM_TABLE, FACT_TABLE

        now = _parquet_files(self.store.root)
        written = sum(size for path, size in now.items() if path not in self._seen_files)
        self._seen_files = now
        if not traced:
            return
        out = {"day": res["day"], "fact_new": res["fact_new"], "written": written}
        for table in (DIM_TABLE, FACT_TABLE):
            files = _parquet_files(self.store.current_path(table))
            out[table] = (sum(files.values()), self.store.read(table).count(), len(files))
        self.store_stats.append(out)

    def cleanup(self) -> None:
        self.spark.catalog.clearCache()

    def check(self) -> dict[str, str]:
        from steam_data_pipeline_spark import difftest
        from steam_data_pipeline_spark.streaming.ingest import DIM_TABLE, FACT_TABLE

        ingested = self.days.dirs[:-1]  # the last snapshot is the unused next day
        expected, self.day_rows = checks.ingest_oracle(ingested)
        bad = {}
        for table in (DIM_TABLE, FACT_TABLE):
            res = difftest.compare_frames(table, checks.ingest_frame(self.store, table), expected[table])
            if not res.ok:
                bad["day"] = str(res)
        return bad

    def rows(self, sample: dict) -> int:
        """Dimension rows the day MERGEd plus fact rows it appended
        (valid after ``check``)."""
        return self.day_rows[sample["res"]["day"]] + sample["res"]["fact_new"]

    def plan_frames(self, tracer) -> list:
        """The gather, metadata and facts DataFrames of every traced day."""
        return [df for _name, df in tracer.frames]

    def layer_metrics(self, traced_samples: list[dict], n: int) -> dict:
        """Store and ingest metrics over the ``n`` traced days.  Write
        amplification is bytes the commits wrote ÷ bytes their committed
        rows take at each table's own bytes per row."""
        from steam_data_pipeline_spark.streaming.ingest import DIM_TABLE, FACT_TABLE

        written = row_bytes = 0.0
        for s in self.store_stats:
            written += s["written"]
            for table, rows in ((DIM_TABLE, self.day_rows[s["day"]]), (FACT_TABLE, s["fact_new"])):
                nbytes, nrows, _ = s[table]
                row_bytes += rows * nbytes / max(nrows, 1)
        fact_bytes, fact_rows, fact_files = self.store_stats[-1][FACT_TABLE]
        return {
            "store.write_amp": written / max(row_bytes, 1.0),
            "store.files": fact_files,
            "store.bytes_per_row": fact_bytes / max(fact_rows, 1),
            "ingest.pool_rows": sum(s["res"].get("pool", 0) for s in traced_samples) / n,
            "journal.refused": sum(1 for s in traced_samples if s["err"] and "refused" in s["err"]),
        }


def _pooled(fn, names: list[str]) -> dict[str, str]:
    """Run ``fn(name)`` for every name on at most one thread per core;
    the errors by name."""
    failed = {}
    with ThreadPoolExecutor(min(len(names), len(os.sched_getaffinity(0)))) as ex:
        futures = {name: ex.submit(fn, name) for name in names}
    for name, fut in futures.items():
        e = fut.exception()
        if e is not None:
            failed[name] = f"{type(e).__name__}: {str(e)[:300]}"
    return failed


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out
