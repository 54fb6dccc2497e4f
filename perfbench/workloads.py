"""The benchmark's workloads, driven only through the engine's public API.

Each workload prepares itself untimed (``setup``), yields seeded operations
(``ops``), runs one operation as the timed call (``run``) and checks its
answer outside the timed region (``check``). ``run`` records a tracer span
around every call into an engine layer; with tracing off those are no-ops.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Iterator

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads

from check_correctness import compare
import __spark_entry__ as entry
from feast_hive_spark import FeatureView, ParquetSource, TableSource
from feast_hive_spark.sinks import materialize_online, read_online
from feast_hive_spark.store import SparkOfflineStore, SparkOfflineStoreConfig

import pin_oracles
from probes import OpRecord, Tracer

# Registry queries registry_warm runs: one per family, and a second relational
# one (TPC-H Q13 and a set operation) so the list is odd and the median falls
# inside one query's latencies instead of between two. Chosen so each first
# build plus first execution stays near or under two seconds at sf0.1 on four
# cores, each DuckDB twin answers in under a second, the tables read fit in
# 6.3 MB (no lineitem), and an iterative localCheckpoint user
# (kcore_user_item) and two pandas-kernel users (ann_cosine_topk,
# multimodal_pixel_stats) are included. Left off: the
# twins of dedup_minhash_lsh, dedup_simhash, dedup_ngram_jaccard,
# dedup_jaccard_prefix, dedup_containment, ann_lsh_topk, ann_pq_adc_topk and
# ann_recall_report are all-pairs or brute force in DuckDB and run for minutes
# at sf0.1; dedup_embedding_cosine's first build takes about 7 s.
REGISTRY_LIST: list[tuple[str, str]] = [  # (family, query)
    ("relational", "q13_customer_distribution"),
    ("relational", "set_ops_key_overlap"),
    ("pit", "pit_asof_join"),
    ("dedup", "dedup_paragraph_chunks"),
    ("ann", "ann_cosine_topk"),
    ("text", "tfidf_top_terms"),
    ("graph", "kcore_user_item"),
    ("stats", "ks_test_click_view_value"),
    ("multimodal", "multimodal_pixel_stats"),
]
FAMILIES = list(dict.fromkeys(f for f, _ in REGISTRY_LIST))


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    data_dir: str
    oracle_dir: str
    run_dir: str


def _naive(pdf: pd.DataFrame) -> pd.DataFrame:
    """Drop the UTC zone from timestamp columns (Arrow results carry it,
    DuckDB results do not) and spell missing strings one way."""
    out = pdf.copy()
    for c in out.columns:
        if isinstance(out[c].dtype, pd.DatetimeTZDtype):
            out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
        elif out[c].dtype == object:
            out[c] = out[c].where(out[c].notna(), None)
    return out


def _problems(name: str, got: pa.Table | pd.DataFrame, exp: pd.DataFrame) -> str | None:
    got = got.to_pandas() if isinstance(got, pa.Table) else got
    found = compare(name, _naive(got), _naive(exp))
    return "; ".join(found) if found else None


def value_hash(table: pa.Table) -> str:
    """Order-insensitive hash of a result's values: its row count, column
    names and the wrapping sum of its row hashes."""
    pdf = _naive(table.to_pandas())
    pdf = pdf[sorted(pdf.columns)]
    rows = int(pd.util.hash_pandas_object(pdf, index=False).sum())
    return f"{len(pdf)}:{','.join(pdf.columns)}:{rows}"


class _Traced:
    """Mixin recording a ``sources.resolve`` span around ``to_df``, the
    public call the engine makes when it resolves a source."""

    tracer: Tracer | None = None

    def to_df(self, spark):
        with self.tracer.span("sources.resolve"):
            return super().to_df(spark)


class TracedTableSource(_Traced, TableSource):
    pass


class TracedParquetSource(_Traced, ParquetSource):
    pass


class Workload:
    name = ""
    cycle = 1  # ops() repeats a mix of this many operations
    cycle_s = 1.0  # nominal seconds of one cycle once warm; sets the timed count

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.setup_ops: list[Op] = []  # operations setup() ran

    def setup(self) -> list[str | None]:
        """Untimed preparation; returns one check result per checked step."""
        return []

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        raise NotImplementedError

    def run(self, i: int, op: Op, rec: OpRecord):
        raise NotImplementedError

    def check(self, op: Op, result) -> str | None:
        raise NotImplementedError

    def counts(self, op: Op) -> dict[str, float]:
        """Extra per-layer counts of a checked operation, read untimed."""
        return {}

    def _exec(self, i: int, rec: OpRecord, df) -> pa.Table:
        with self.tr.span("retrieval.exec"), self.tr.phase(i, "exec", rec):
            table = df.toArrow()
        rec.counts["rows"] = table.num_rows
        rec.counts["arrow_mb"] = table.nbytes / 2**20
        return table


class FeatureStore(Workload):
    """The feature-store loop on the ``events`` table: training-set
    retrieval (PIT as-of joins and latest-per-key pulls through
    ``SparkOfflineStore``, each on fresh entity rows), materialisation of
    online snapshots over sliding windows, and Zipf point lookups against
    the latest snapshot."""

    name = "feature_store"
    # (kind, size, detail): size is entity rows for "historical" (detail:
    # the feature views, by index into ``views``), pull window days for
    # "pull_latest" (detail: the source), days of the snapshot window for
    # "write" and distinct keys for "read". The work per position is fixed,
    # so every seed times the same mix; the seed draws entity keys (Zipf),
    # timestamps, pull and write windows and lookup keys. Entity counts are
    # heavy-tailed: Pareto(0.9) quantiles from 200 rows, and one 50k-row
    # request per cycle. Writes:reads of the online store are 1:2.
    # The median must fall inside a group of positions with like latencies,
    # not in a gap between two groups, or it jumps between them from run to
    # run: the four two-view requests on a few hundred rows and the
    # 200-key lookup take about the same time and hold the middle five of
    # the eleven latency ranks.
    CYCLE = [
        ("historical", 626, (0, 1)), ("read", 50, None), ("historical", 217, (0, 2)),
        ("pull_latest", 3, "table"), ("write", 7, None), ("historical", 1103, (0, 1, 2)),
        ("read", 200, None), ("historical", 50_000, (1,)), ("historical", 328, (1, 2)),
        ("pull_latest", 7, "parquet"), ("historical", 432, (0, 1)),
    ]
    cycle = len(CYCLE)
    cycle_s = 6.0

    def setup(self) -> list[str | None]:
        spark = self.spark
        self.events_path = os.path.join(self.ctx.data_dir, "events.parquet")
        # the Hive metastore table gets a directory of its own in the run
        table_dir = os.path.join(self.ctx.run_dir, "events_table")
        os.makedirs(table_dir)
        shutil.copyfile(self.events_path, os.path.join(table_dir, "part-00000.parquet"))
        spark.sql("CREATE DATABASE IF NOT EXISTS fs")
        spark.sql(f"CREATE TABLE IF NOT EXISTS fs.events USING parquet LOCATION '{table_dir}'")
        self.config = SparkOfflineStoreConfig()
        table = TracedTableSource("fs.events", event_timestamp_column="ts")
        parquet = TracedParquetSource(self.events_path, event_timestamp_column="ts")
        table.tracer = parquet.tracer = self.tr
        self.sources = {"table": table, "parquet": parquet}
        self.views = [
            FeatureView("fv_value", table, ["user_id"], ["value"], ttl_seconds=2 * 86400),
            FeatureView("fv_type", parquet, ["user_id"], ["event_type"], ttl_seconds=6 * 3600),
            FeatureView("fv_props", table, ["user_id"], ["props"], ttl_seconds=0),
        ]
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{self.events_path}')")
        # the events span whole days from its first day on
        first_ts, last_ts = self.con.execute("SELECT min(ts), max(ts) FROM events").fetchone()
        self.start = datetime(first_ts.year, first_ts.month, first_ts.day)
        self.span_days = (last_ts - self.start).days + 1
        users = np.array([u for u, in self.con.execute(
            "SELECT DISTINCT user_id FROM events ORDER BY user_id").fetchall()])
        # Zipf(1.1) popularity over the users, ranked by a fixed permutation
        users = np.random.default_rng(42).permutation(users)
        weights = 1.0 / np.arange(1, len(users) + 1) ** 1.1
        self.zipf_users, self.zipf_p = users, weights / weights.sum()
        self.next_request = 0
        self.online = os.path.join(self.ctx.run_dir, "online")
        first = Op("write", {"start": self.start, "end": self.start + timedelta(days=7)})
        self.run(-1, first, OpRecord(-1, "write"))
        self.setup_ops.append(first)
        return [self.check(first, None)]

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        start = self.start
        span_s = self.span_days * 86400
        lo = 0
        while True:
            for kind, size, detail in self.CYCLE:
                if kind == "pull_latest":
                    at = start + timedelta(seconds=int(rng.integers(0, span_s - size * 86400)))
                    yield Op(kind, {
                        "source": detail, "start": at, "end": at + timedelta(days=size),
                        "check": bool(rng.uniform() < 0.5),
                    })
                elif kind == "write":
                    # the window slides 6-18 h per write and wraps around
                    lo = (lo + int(rng.integers(6 * 3600, 18 * 3600))) % (span_s - size * 86400)
                    at = start + timedelta(seconds=lo)
                    yield Op(kind, {"start": at, "end": at + timedelta(days=size)})
                elif kind == "read":
                    keys = rng.choice(self.zipf_users, size, replace=False, p=self.zipf_p)
                    yield Op(kind, {"keys": [(int(key),) for key in sorted(keys)]})
                else:
                    yield Op(kind, {
                        "entity": self._entity(rng, size), "views": list(detail),
                        "check": bool(rng.uniform() < 0.25),
                    })

    def _entity(self, rng: np.random.Generator, n: int) -> pd.DataFrame:
        span_us = self.span_days * 86400 * 10**6
        offs = rng.integers(86400 * 10**6, span_us, n)
        ts = np.datetime64(self.start, "us") + offs.astype("timedelta64[us]")
        ids = np.arange(self.next_request, self.next_request + n, dtype=np.int64)
        self.next_request += n
        return pd.DataFrame({
            "request_id": ids,
            "user_id": rng.choice(self.zipf_users, n, p=self.zipf_p).astype(np.int64),
            "event_timestamp": pd.to_datetime(ts).tz_localize("UTC"),
        })

    def run(self, i: int, op: Op, rec: OpRecord):
        if op.kind == "write":
            with self.tr.span("sinks.write"), self.tr.phase(i, "write", rec):
                materialize_online(
                    self.sources["parquet"].to_df(self.spark), self.online,
                    ["user_id"], ["value", "event_type"], "ts", None,
                    op.args["start"], op.args["end"],
                )
            self.window = (op.args["start"], op.args["end"])
            return None
        if op.kind == "read":
            op.args["window"] = self.window
            with self.tr.span("sinks.lookup"), self.tr.phase(i, "lookup", rec):
                table = read_online(self.spark, self.online, ["user_id"], op.args["keys"]).toArrow()
            rec.counts["rows"] = table.num_rows
            rec.counts["arrow_mb"] = table.nbytes / 2**20
            return table
        if op.kind == "historical":
            views = [self.views[v] for v in op.args["views"]]
            rec.counts["entity_rows"] = len(op.args["entity"])
            with self.tr.span("store.call"), self.tr.phase(i, "call", rec):
                job = SparkOfflineStore.get_historical_features(
                    self.config, views, op.args["entity"]
                )
        else:
            with self.tr.span("store.call"), self.tr.phase(i, "call", rec):
                job = SparkOfflineStore.pull_latest_from_table_or_query(
                    self.config, self.sources[op.args["source"]], ["user_id"],
                    ["value", "event_type"], "ts", None, op.args["start"], op.args["end"],
                )
        try:
            with self.tr.span("plans.build"), self.tr.phase(i, "build", rec):
                df = job.to_spark_df()
            table = self._exec(i, rec, df)
        finally:
            job.close()
        rec.counts.update(self.tr.catalyst_ms(df))
        return table

    def check(self, op: Op, result) -> str | None:
        if op.kind == "write":
            latest = self._latest(op.args["start"], op.args["end"]).arrow()
            got = pads.dataset(self.online, partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]).count_rows()
            if got != latest.num_rows:
                return f"snapshot holds {got} rows, window has {latest.num_rows} keys"
            self.latest_arrow_mb = latest.nbytes / 2**20
            return None
        if op.kind == "read":
            keys = pd.DataFrame({"user_id": [k[0] for k in op.args["keys"]]})
            return _problems("read_online", result, self._latest(*op.args["window"], keys).df())
        if op.kind == "historical":
            entity = op.args["entity"]
            if result.num_rows != len(entity):
                return f"{result.num_rows} rows for {len(entity)} entity rows"
            if not op.args["check"]:
                return None
            features = [f for v in op.args["views"] for f in self.views[v].features]
            return _problems("historical", result.select(["request_id", *features]), self._asof(op))
        if not op.args["check"]:
            return None
        return _problems("pull_latest", result, self._latest(op.args["start"], op.args["end"]).df())

    def counts(self, op: Op) -> dict[str, float]:
        if op.kind != "write":
            return {}
        files = pads.dataset(self.online, ignore_prefixes=[".", "_SUCCESS"]).files
        mb = sum(os.path.getsize(f) for f in files) / 2**20
        return {
            "files_written": len(files), "bytes_written_mb": mb,
            "write_amplification": mb / self.latest_arrow_mb,
        }

    def _latest(self, start: datetime, end: datetime, keys: pd.DataFrame | None = None):
        """DuckDB latest-per-key over [start, end], optionally for ``keys``."""
        where = "AND user_id IN (SELECT user_id FROM keys)" if keys is not None else ""
        return self.con.execute(
            "SELECT user_id, value, event_type, ts FROM events "
            f"WHERE ts BETWEEN ? AND ? {where} "
            "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1",
            [start, end],
        )

    def _asof(self, op: Op) -> pd.DataFrame:
        """DuckDB as-of join of the entity rows with each view."""
        ent = op.args["entity"].assign(
            event_timestamp=op.args["entity"]["event_timestamp"].dt.tz_localize(None)
        )
        cols, joins = [], []
        for j, v in enumerate(op.args["views"]):
            view = self.views[v]
            for f in view.features:
                if view.ttl_seconds:
                    cols.append(
                        f"CASE WHEN f{j}.ts >= ent.event_timestamp - INTERVAL "
                        f"{int(view.ttl_seconds)} SECOND THEN f{j}.{f} END AS {f}"
                    )
                else:
                    cols.append(f"f{j}.{f} AS {f}")
            joins.append(
                f"ASOF LEFT JOIN events f{j} ON ent.user_id = f{j}.user_id "
                f"AND ent.event_timestamp >= f{j}.ts"
            )
        return self.con.execute(
            f"SELECT ent.request_id, {', '.join(cols)} FROM ent {' '.join(joins)}"
        ).df()


class RegistryWarm(Workload):
    """Registry queries through ``__spark_entry__``: an untimed one-shot
    pass over the list (every build a first build, each answer checked
    against its pinned DuckDB twin), then the list re-issued round-robin,
    so every timed operation is a repeat that pays execution only."""

    name = "registry_warm"
    cycle = len(REGISTRY_LIST)
    cycle_s = 0.75

    def setup(self) -> list[str | None]:
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.first_hash: dict[str, str] = {}
        out = []
        for n, op in enumerate(self._pass(np.random.default_rng(0))):
            self.tr.op = -1 - n
            table = self.run(-1 - n, op, OpRecord(-1 - n, op.kind))
            self.setup_ops.append(op)
            q = op.args["query"]
            self.first_hash[q] = value_hash(table)
            oracle = pin_oracles.load(self.ctx.oracle_dir, q, self.oracles[q])
            out.append(_problems(q, table, oracle))
        return out

    def _pass(self, rng: np.random.Generator) -> list[Op]:
        """Every query once, in a seeded order."""
        ops = [Op(f, {"query": q}) for f, q in REGISTRY_LIST]
        return [ops[j] for j in rng.permutation(len(ops))]

    def ops(self, rng: np.random.Generator) -> Iterator[Op]:
        while True:
            yield from self._pass(rng)

    def run(self, i: int, op: Op, rec: OpRecord) -> pa.Table:
        with self.tr.span(f"registry.{op.kind}.build"), self.tr.phase(i, "build", rec):
            df = self.queries[op.args["query"]](self.spark, self.ctx.data_dir)
        table = self._exec(i, rec, df)
        rec.counts.update(self.tr.catalyst_ms(df))
        return table

    def check(self, op: Op, result: pa.Table) -> str | None:
        if value_hash(result) != self.first_hash[op.args["query"]]:
            return "repeat differs from its first-pass answer"
        return None


WORKLOADS = {w.name: w for w in (FeatureStore, RegistryWarm)}
