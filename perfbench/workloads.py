"""The benchmark's workloads: what is set up, what one pass runs, how
its outputs are checked, and which layer functions the traced run wraps.

Both are closed-loop and single-client: the next op starts only when
the previous one has returned.

* ``sync`` — the reference's own job: the five Bitcoin jobs of
  ``examples/bitcoin_warehouse_demo.py`` synced by ``Pipeline.run``
  over a ``FileReplaySource``, then the demo's four serving reads.
* ``query`` — registered queries over the star schema (pinned by
  ``tables.cache_tables``) and curation kernels over the
  documents/embeddings corpus (read uncached from parquet), each forced
  through the noop sink.
"""

from __future__ import annotations

import hashlib
import importlib.util
import random
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pyarrow as pa
import yaml

from inputs import (
    QUERY_IDS,
    REPO,
    STAR_TABLES,
    SyncStream,
    record_responses,
    write_corpus,
    write_star,
)


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Sample:
    name: str
    family: str
    seconds: float
    primary: bool  # counts toward op_geomean_s


class Tally:
    """Ops attempted and failed, with the first few failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(msg[:300])


def _digest(normalize, rows, cols) -> tuple[int, str]:
    ncols, nrows = normalize(rows, cols)
    return len(rows), hashlib.sha256(repr((ncols, nrows)).encode()).hexdigest()


# --------------------------------------------------------------------- query

#: op -> family.  One pass runs every op once, in a seeded order.
QUERY_OPS = {
    "extract_projection_range": "relational",
    "agg_count_distinct": "relational",
    "join_star_regional_revenue": "relational",
    "cdc_snapshot_diff": "relational",
    "window_lag_delta": "windows",
    "events_gapfill_locf": "windows",
    "asof_join_daily_price": "asof",
    "tpch_q8_market_share": "tpch",
    "tpch_q18_large_volume_customers": "tpch",
    "pipeline_matview_append_combine": "matview",
    "pipeline_matview_update_recompute": "matview",
    "dedup_minhash_lsh": "dedup",
    "text_quality_classifier_serve_only": "scoring",
    "similarity_ivf_topk": "similarity",
}
QUERY_SF = 0.01
CORPUS = dict(n_docs=100, n_vecs=50, factor=10)


class QueryWorkload:
    def __init__(self, work: Path, seed: int) -> None:
        self.data = work / "data"
        self.seed = seed
        self.cache_fill_s: list[float] = []
        from bitcoin_datawarehouse_spark.registry import (
            ORACLES,
            QUERIES,
            load_all_operators,
        )

        load_all_operators()
        self.queries, self.oracles = QUERIES, ORACLES
        self.normalize = _load(REPO / "tools" / "check_oracle.py").normalize

    def prepare(self) -> None:
        """Inputs, and each op's expected row count and order-insensitive
        hash from its registered DuckDB oracle."""
        from bitcoin_datawarehouse_spark.tables import TABLES

        write_star(self.data, self.seed, QUERY_SF)
        write_corpus(self.data, self.seed, **CORPUS)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.expected = {}
        for name in QUERY_OPS:
            res = con.execute(self.oracles[name])
            cols = [d[0] for d in res.description]
            self.expected[name] = _digest(self.normalize, res.fetchall(), cols)
        con.close()

    def setup(self, spark) -> None:
        from bitcoin_datawarehouse_spark.tables import cache_tables

        t0 = time.perf_counter()
        cache_tables(spark, str(self.data), STAR_TABLES)
        self.cache_fill_s.append(time.perf_counter() - t0)

    def teardown(self, spark) -> None:
        from bitcoin_datawarehouse_spark.tables import uncache_tables

        uncache_tables(spark)

    def _release(self) -> None:
        from bitcoin_datawarehouse_spark.functions.cachereg import release_tracked_caches
        from bitcoin_datawarehouse_spark.functions.ranking import release_rank_caches

        release_tracked_caches()
        release_rank_caches()

    def warm(self, spark, tally: Tally) -> None:
        """One untimed pass that collects every op's output and checks it."""
        for name in QUERY_OPS:
            tally.attempted += 1
            try:
                df = self.queries[name](spark, str(self.data))
                got = _digest(self.normalize, [tuple(r) for r in df.collect()], df.columns)
                if got != self.expected[name]:
                    tally.fail(f"{name}: rows/hash {got} != oracle {self.expected[name]}")
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                tally.fail(f"{name}: {type(e).__name__}: {e}")
            self._release()

    def run_pass(self, spark, rng: random.Random, tally: Tally, tracer) -> list[Sample]:
        order = list(QUERY_OPS)
        rng.shuffle(order)
        out = []
        for name in order:
            tally.attempted += 1
            if tracer:
                tracer.begin_op(f"{name}#{tally.attempted}", QUERY_OPS[name])
            t0 = time.perf_counter()
            try:
                self.queries[name](spark, str(self.data)).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                tally.fail(f"{name}: {type(e).__name__}: {e}")
            out.append(Sample(name, QUERY_OPS[name], time.perf_counter() - t0, True))
            if tracer:
                tracer.end_op()
            self._release()
        return out

    def wrap(self, tracer) -> None:
        """The query layers are the ops themselves and the Spark jobs
        under them; nothing inside an op is wrapped."""

    def layer_metrics(self, samples: list[Sample], tracer, rollups) -> dict[str, float]:
        out = {"tables.cache_fill_s": statistics.median(self.cache_fill_s)}
        for fam in sorted(set(QUERY_OPS.values())):
            out[f"operators.{fam}_p50_s"] = statistics.median(
                s.seconds for s in samples if s.family == fam
            )
        return out

    def finish(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------- sync

#: 20k-row fact tables and 1k rows per fact job per sync (the new day
#: and the day before it, re-pulled)
SYNC_STREAM = dict(
    history_days=40, blocks_per_day=5, tx_per_block=100, lookback_days=2, corrections=100
)


class _Replay:
    """The expected warehouse: the delivered batches replayed into
    DuckDB with the reference's upsert, ``INSERT … ON CONFLICT DO
    UPDATE`` (``pg_loader.py``), after the demo's column transform —
    read from the same YAML spec, but applied without the pipeline's
    own transform or merge code."""

    def __init__(self, spec_text: str, jobs: list[tuple]) -> None:
        self.con = duckdb.connect()
        spec = {t["name"]: t for t in yaml.safe_load(spec_text)["tables"]}
        self.targets = {}
        for job, qid, table, key in jobs:
            t = spec[job]
            cols = [(src, dst or src) for block in t["columns"] for src, dst in block.items()]
            # the spec's DSL brackets column names: UPPER([entity])
            derived = [
                (name, dsl.replace("[", "").replace("]", ""))
                for block in t.get("transform") or [] for name, dsl in block.items()
            ]
            self.targets[qid] = (f"bitcoin_{table}", key, cols, derived)

    def apply(self, batch: dict[int, list[dict]], full_refresh: bool) -> None:
        for qid, rows in batch.items():
            if not rows:
                continue
            table, key, cols, derived = self.targets[qid]
            raw = pa.Table.from_pylist(rows)
            self.con.register("raw", raw)
            names = [dst for _, dst in cols] + [n for n, _ in derived]
            exprs = [f'"{src}"' for src, _ in cols] + [e for _, e in derived]
            if full_refresh:
                types = {f.name: f.type for f in raw.schema}
                ddl = [f'"{dst}" {_duck_type(types[src])}' for src, dst in cols]
                ddl += [f'"{n}" VARCHAR' for n, _ in derived]
                self.con.execute(f"DROP TABLE IF EXISTS {table}")
                self.con.execute(f"CREATE TABLE {table} ({', '.join(ddl)}, PRIMARY KEY ({key}))")
                conflict = ""
            else:
                sets = ", ".join(f'"{n}" = excluded."{n}"' for n in names if n != key)
                conflict = f"ON CONFLICT ({key}) DO UPDATE SET {sets}"
            self.con.execute(
                f"INSERT INTO {table} ({', '.join(names)}) "
                f"SELECT {', '.join(exprs)} FROM raw {conflict}"
            )
            self.con.unregister("raw")

    def count(self, qid: int) -> int:
        return self.con.execute(f"SELECT COUNT(*) FROM {self.targets[qid][0]}").fetchone()[0]

    def columns(self, qid: int) -> list[str]:
        return [d[0] for d in self.con.execute(
            f"SELECT * FROM {self.targets[qid][0]} LIMIT 0").description]

    def differing_rows(self, qid: int, got: pa.Table) -> int:
        """Rows of ``got`` not in the expected table plus rows of the
        expected table not in ``got``, counted as multisets over the
        expected table's columns."""
        table = self.targets[qid][0]
        cols = ", ".join(f'"{c}"' for c in self.columns(qid))
        self.con.register("got", got)
        try:
            return self.con.execute(
                f"SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM got "
                f"EXCEPT ALL SELECT {cols} FROM {table})) + "
                f"(SELECT COUNT(*) FROM (SELECT {cols} FROM {table} "
                f"EXCEPT ALL SELECT {cols} FROM got))"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")

    def answer(self, sql: str):
        res = self.con.execute(sql)
        return res.fetchall(), [d[0] for d in res.description]


def _duck_type(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "BIGINT"
    if pa.types.is_floating(t):
        return "DOUBLE"
    return "VARCHAR"


def _rounded(rows) -> list[tuple]:
    """Doubles to 9 significant digits: the serving SQL sums doubles,
    whose last bits depend on summation order."""
    return [tuple(float(f"{v:.9g}") if isinstance(v, float) else v for v in r) for r in rows]


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class SyncWorkload:
    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.responses = work / "responses"
        self.demo = _load(REPO / "examples" / "bitcoin_warehouse_demo.py")
        self.normalize = _load(REPO / "tools" / "check_oracle.py").normalize
        self.n_setups = 0
        #: source bytes delivered to the traced syncs
        self.bytes_delivered = 0

    def prepare(self) -> None:
        """The remote history and the replayed expected state after the
        first (full-refresh) sync."""
        self.stream = SyncStream(self.seed, **SYNC_STREAM)
        first = self.stream.batch(None)
        record_responses(self.responses, first)
        self.replay = _Replay(self.demo.TRANSFORM_SPEC, self.demo.REFERENCE_JOBS)
        self.replay.apply(first, full_refresh=True)

    def setup(self, spark) -> None:
        """Fresh warehouse, job registry seeded, first sync (full refresh)."""
        from bitcoin_datawarehouse_spark.pipeline import (
            FileReplaySource,
            Pipeline,
            Warehouse,
            parse_spec,
        )

        self.n_setups += 1
        self.wh = Warehouse(spark, str(self.work / f"warehouse{self.n_setups}"))
        self.pipe = Pipeline(
            spark,
            self.wh,
            FileReplaySource(str(self.responses), param_column="date"),
            specs=parse_spec(self.demo.TRANSFORM_SPEC),
        )
        self.pipe.control.seed(
            [
                {
                    "job_name": name,
                    "query_id": qid,
                    "target_table": table,
                    "p_key": key,
                    "status": 0,
                    "active": 1,
                    "incremental_column": "date",
                }
                for name, qid, table, key in self.demo.REFERENCE_JOBS
            ]
        )
        results = self.pipe.run()
        bad = [r for r in results if not r.ok]
        if bad or len(results) != len(QUERY_IDS):
            raise RuntimeError(f"seed sync failed: {bad or results}")

    def teardown(self, spark) -> None:
        pass

    def warm(self, spark, tally: Tally) -> None:
        """One untimed sync and its reads, checked like every pass."""
        self.run_pass(spark, random.Random(0), tally, None)

    def _check_sync(self, results, tally: Tally) -> None:
        """Each job ran, loaded the replay's row count, and left its
        warehouse table equal to the replay's in every row and every
        replayed column (the loader adds its own ``etl_updated_ts``)."""
        by_name = {r.job_name: r for r in results}
        for name, qid, table, _ in self.demo.REFERENCE_JOBS:
            r = by_name.get(name)
            if r is None or not r.ok:
                tally.fail(f"sync {name}: {r.error if r else 'not run'}")
                return
            want = self.replay.count(qid)
            if r.rows_loaded != want:
                tally.fail(f"sync {name}: {r.rows_loaded} rows, replay has {want}")
                return
            got = self.wh.read("bitcoin", table).select(*self.replay.columns(qid)).toArrow()
            bad = self.replay.differing_rows(qid, got)
            if bad:
                tally.fail(f"sync {name}: bitcoin.{table} has {bad} rows unlike the replay")
                return

    def run_pass(self, spark, rng: random.Random, tally: Tally, tracer) -> list[Sample]:
        """One incremental sync of the next day (plus corrections in the
        lookback window), then each serving read; checked after each."""
        from bitcoin_datawarehouse_spark.pipeline import register_warehouse_views, run_sql

        self.stream.advance()
        since = self.stream.since
        batch = self.stream.batch(since)
        delivered = record_responses(self.responses, batch)
        if tracer:
            self.bytes_delivered += delivered
        self.replay.apply(batch, full_refresh=False)

        out = []
        tally.attempted += 1
        key = f"sync#{tally.attempted}"
        if tracer:
            tracer.begin_op(key, "sync")
        t0 = time.perf_counter()
        try:
            results = self.pipe.run(incremental_value=since)
            register_warehouse_views(spark, self.wh)
        except Exception as e:  # noqa: BLE001
            results = None
            tally.fail(f"sync: {type(e).__name__}: {e}")
        out.append(Sample("sync", "sync", time.perf_counter() - t0, True))
        if tracer:
            tracer.end_op()
        if results is not None:
            self._check_sync(results, tally)

        for name, sql in self.demo.ANALYTICAL_SQL.items():
            tally.attempted += 1
            key = f"{name}#{tally.attempted}"
            if tracer:
                tracer.begin_op(key, "serve")
            t0 = time.perf_counter()
            try:
                df = run_sql(spark, sql)
                rows, cols = [tuple(r) for r in df.collect()], df.columns
            except Exception as e:  # noqa: BLE001
                rows = None
                tally.fail(f"{name}: {type(e).__name__}: {e}")
            out.append(Sample(name, "serve", time.perf_counter() - t0, False))
            if tracer:
                tracer.end_op()
            if rows is not None:
                want_rows, want_cols = self.replay.answer(sql)
                got = self.normalize(_rounded(rows), cols)
                want = self.normalize(_rounded(want_rows), want_cols)
                if got != want:
                    tally.fail(f"{name}: answer differs from replay")
        return out

    def wrap(self, tracer) -> None:
        from bitcoin_datawarehouse_spark.pipeline import jobs
        from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
        from bitcoin_datawarehouse_spark.pipeline.loader import Loader

        for attr in ("tables_to_sync", "start_job", "end_job", "fail_job"):
            tracer.wrap(jobs.JobControl, attr, "pipeline.jobs.control_s")
        tracer.wrap(jobs, "fetch_as_df", "pipeline.source.fetch_s")
        for attr in ("load_incremental", "load_full_refresh"):
            tracer.wrap(Loader, attr, "pipeline.loader.merge_s")
        for attr in ("get_max_value", "get_record_count"):
            tracer.wrap(Loader, attr, "pipeline.loader.probe_s")
        tracer.wrap(Warehouse, "write_atomic", "pipeline.catalog.write_s")

    def layer_metrics(self, samples: list[Sample], tracer, rollups) -> dict[str, float]:
        """Per sync: each wrapped layer's self time; per serving read: its
        latency; and the bytes the syncs' Spark jobs wrote per source
        byte delivered."""
        syncs = sum(s.family == "sync" for s in samples)
        reads = [s.seconds for s in samples if s.family == "serve"]
        out = {layer: self_s / syncs for layer, self_s in tracer.self_s.items()}
        out["pipeline.sqlrunner.read_s"] = statistics.mean(reads)
        written = sum(rollups[op.key]["output_bytes"] for op in tracer.ops if op.family == "sync")
        out["pipeline.catalog.write_amp"] = written / self.bytes_delivered
        return out

    def finish(self) -> dict[str, float]:
        """Storage shape of the final warehouse."""
        tables = [self.wh.table_path("bitcoin", t) for t in self.wh.list_tables("bitcoin")]
        live = sum(_dir_bytes(p) for p in tables) or 1
        files = [len(list(p.glob("*.parquet"))) for p in tables]
        return {
            "pipeline.catalog.files_per_table": sum(files) / max(1, len(files)),
            "pipeline.catalog.space_amp": _dir_bytes(self.wh.root) / live,
        }


WORKLOADS = {"sync": SyncWorkload, "query": QueryWorkload}
