"""The benchmark's workloads.

Each workload is a closed loop with one client: an operation starts
when the previous one has returned. A workload has three parts:

- ``setup()``: table registration, the warm-up and the standing state.
  Its phases are timed into ``Bench.setup_phases``.
- ``run_pass(tracer)``: one timed pass (the whole query mix once, or
  all K steps or rounds once). Returns the :class:`Op` records.
- ``gate()``: the untimed correctness check against an oracle.
  Returns one ``(check name, problem or None)`` per check.

Calls into the engine go through ``tracer.span(name)``, so the traced
run sees every layer boundary; with tracing off the spans are no-ops.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from spans import NullTracer


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    extra: dict = field(default_factory=dict)


@dataclass
class Bench:
    """Run-wide context handed to every workload."""

    spark: object
    work: str
    seed: int
    setup_phases: dict = field(default_factory=dict)

    def timed_phase(self, name: str):
        bench = self

        class _Phase:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                bench.setup_phases.setdefault(name, []).append(time.perf_counter() - self.t0)
                return False

        return _Phase()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_op(ops: list, name: str, fn, **extra) -> object:
    """Time one operation; an exception counts as a failed op."""
    t0 = time.perf_counter()
    try:
        out = fn()
        ok = True
    except Exception as exc:  # a failed op is recorded, the loop goes on
        print(f"op {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
        out, ok = None, False
    ops.append(Op(name, time.perf_counter() - t0, ok, extra))
    return out


# ---- batch: registry queries -------------------------------------------

BATCH_SQL = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10",
    "tpch_q18_large_orders", "cte_pipeline", "program_multiview_chain",
    "asof_join", "tumbling_window_agg",
)
BATCH_LLM = (
    "dedup_minhash_pairs", "dedup_canonical_groups", "embedding_lsh_neardup",
    "ann_ivf_topk", "x_semdedup", "x_bm25_topk",
)


class Batch:
    """A mix of registry queries, each built on the driver and run
    through a noop sink. The seed sets the query order of each pass."""

    def __init__(self, bench: Bench, queries: tuple[str, ...], sf: float):
        self.b = bench
        self.queries = queries
        self.sf = sf
        self.data = os.path.join(bench.work, "data")
        self.passes = 0
        self.oracles: dict[str, str] = {}
        self.warm_frames: dict = {}

    def _pin_artifacts(self) -> None:
        """Some queries persist a small artifact (hyperplanes, centroids,
        idf) to a module-level path and their oracle reads it back. Point
        both at this run's work dir so the run writes only there."""
        import importlib

        from sql_to_dbsp_compiler_spark.queries import REGISTRY

        art = os.path.join(self.b.work, "artifacts")
        moved = {}
        for name in self.queries:
            mod = importlib.import_module(REGISTRY[name].fn.__module__)
            for attr, val in list(vars(mod).items()):
                if isinstance(val, str) and attr.endswith("_PATH") and "/.artifacts/" in val:
                    new = os.path.join(art, os.path.basename(val))
                    setattr(mod, attr, new)
                    moved[val] = new
        for name in self.queries:
            sql = REGISTRY[name].oracle
            for old, new in moved.items():
                sql = sql.replace(old, new)
            self.oracles[name] = sql

    def setup(self) -> None:
        from sql_to_dbsp_compiler_spark.queries import REGISTRY
        from sql_to_dbsp_compiler_spark.sources.tables import TABLE_NAMES, load_table

        datagen.generate(self.data, self.b.seed, datagen.Scale.sf(self.sf))
        self._pin_artifacts()
        with self.b.timed_phase("register"):
            for t in TABLE_NAMES:
                load_table(self.b.spark, self.data, t)
        # warm-up: every query once, collected, so the gate can check it
        with self.b.timed_phase("warmup"):
            for name in self.queries:
                try:
                    self.warm_frames[name] = REGISTRY[name].fn(self.b.spark, self.data).toPandas()
                except Exception as exc:
                    self.warm_frames[name] = exc

    def prepare(self, tracer) -> None:
        pass

    def run_pass(self, tracer) -> list[Op]:
        from sql_to_dbsp_compiler_spark.queries import REGISTRY

        order = list(self.queries)
        random.Random(self.b.seed * 1009 + self.passes).shuffle(order)
        self.passes += 1
        ops: list[Op] = []
        for name in order:
            def call(name=name):
                with tracer.span(f"op.{name}"):
                    with tracer.span("queries.build"):
                        df = REGISTRY[name].fn(self.b.spark, self.data)
                    with tracer.span("sink.exec"):
                        _noop(df)
            _run_op(ops, name, call)
        return ops

    def gate(self) -> list[tuple[str, str | None]]:
        from sql_to_dbsp_compiler_spark.testing import compare_frames, run_oracle

        out = []
        for name in self.queries:
            got = self.warm_frames.get(name)
            if isinstance(got, Exception):
                out.append((name, f"{type(got).__name__}: {got}"))
                continue
            probs = compare_frames(got, run_oracle(self.oracles[name], self.data))
            out.append((name, "; ".join(probs[:2]) if probs else None))
        return out


# ---- ivm_steps: IncrementalProgram over signed deltas ------------------

IVM_PROGRAM = """
CREATE TABLE lineitem(l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
    l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE,
    l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, l_linestatus VARCHAR,
    l_shipdate TIMESTAMP);
CREATE TABLE orders(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,
    o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR);
CREATE VIEW big_lines AS SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45;
CREATE VIEW flag_qty AS SELECT l_returnflag, l_linestatus,
    SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus;
CREATE VIEW prio_qty AS SELECT orders.o_orderpriority,
    SUM(lineitem.l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem JOIN orders ON lineitem.l_orderkey = orders.o_orderkey
    GROUP BY orders.o_orderpriority;
"""
IVM_VIEW_SQL = {
    "big_lines": "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                 "FROM lineitem WHERE l_quantity > 45",
    "flag_qty": "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
                "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "prio_qty": "SELECT orders.o_orderpriority, SUM(lineitem.l_quantity) AS sum_qty, "
                "COUNT(*) AS n FROM lineitem JOIN orders "
                "ON lineitem.l_orderkey = orders.o_orderkey GROUP BY orders.o_orderpriority",
}


class IvmSteps:
    """One SQL program maintained by ``IncrementalProgram(optimize=True)``:
    step 0 loads the base tables and step 1 applies a first signed
    delta, both untimed (the second warms the delta path up). Then come
    K timed signed lineitem deltas (inserts, deletes and updates; |delta|
    alternates small and large). An op is one ``step`` plus emitting
    (collecting) its output deltas."""

    def __init__(self, bench: Bench, sf: float, k: int, small: int, large: int,
                 checkpoint_every: int):
        self.b = bench
        self.sf, self.k, self.small, self.large = sf, k, small, large
        self.checkpoint_every = checkpoint_every
        self.data = os.path.join(bench.work, "data")
        self.inc = None
        self.fresh = False
        self.final_tables: dict[str, pa.Table] = {}
        self.compiler: dict[str, list] = {"parse_s": [], "construct_s": []}
        self.plan: dict[str, str] = {}

    def setup(self) -> None:
        scale = datagen.Scale.sf(self.sf)
        datagen.generate(self.data, self.b.seed, scale)
        base = pq.read_table(os.path.join(self.data, "lineitem.parquet"))
        orders = pq.read_table(os.path.join(self.data, "orders.parquet"))
        gen = datagen.LineitemDeltas(self.b.seed, base, orders, scale.parts, scale.suppliers)
        # the warm-up delta is small, then |delta| alternates large and small
        deltas = [gen.next(self.large if i % 2 else self.small) for i in range(self.k + 1)]
        final = gen.live()
        self.delta_paths = []
        for i, d in enumerate(deltas):
            path = os.path.join(self.b.work, "deltas", f"lineitem_{i + 1}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(d, path)
            self.delta_paths.append((path, d.num_rows))
        self.final_tables = {"lineitem": final, "orders": orders}
        with self.b.timed_phase("register"):
            self._load()
        with self.b.timed_phase("state_build"):
            self._start(NullTracer())

    def _load(self):
        spark = self.b.spark
        self.base = {
            t: spark.read.parquet(os.path.join(self.data, f"{t}.parquet"))
            for t in ("lineitem", "orders")
        }

    def _start(self, tracer) -> None:
        """Parse and construct the program; apply the untimed steps 0 and 1."""
        from sql_to_dbsp_compiler_spark.compiler.program import IncrementalProgram, SqlProgram

        t0 = time.perf_counter()
        with tracer.span("compiler.parse"):
            prog = SqlProgram.parse(IVM_PROGRAM)
        t1 = time.perf_counter()
        with tracer.span("compiler.construct"):
            self.inc = IncrementalProgram(
                self.b.spark, prog, checkpoint_every=self.checkpoint_every, optimize=True
            )
            self.plan = self.inc.plan()
        t2 = time.perf_counter()
        self.compiler["parse_s"].append(t1 - t0)
        self.compiler["construct_s"].append(t2 - t1)
        from sql_to_dbsp_compiler_spark.plans.zset import ZSet

        warm = ZSet(self.b.spark.read.parquet(self.delta_paths[0][0]))
        for name, tables in (("plans.step0", dict(self.base)), ("plans.step1", {"lineitem": warm})):
            with tracer.span(name):
                for z in self.inc.step(tables).values():
                    z.df.collect()
        self.fresh = True

    def prepare(self, tracer) -> None:
        if not self.fresh:
            with self.b.timed_phase("state_build"):
                self._start(tracer)

    def run_pass(self, tracer) -> list[Op]:
        from sql_to_dbsp_compiler_spark.plans.zset import ZSet

        self.fresh = False
        ops: list[Op] = []
        spark = self.b.spark
        for step, (path, n_rows) in enumerate(self.delta_paths[1:], start=2):
            emitted = {}

            def call():
                with tracer.span("op.step"):
                    with tracer.span("sources.delta_scan"):
                        delta = ZSet(spark.read.parquet(path))
                    with tracer.span("plans.step"):
                        out = self.inc.step({"lineitem": delta})
                    with tracer.span("plans.emit"):
                        for v, z in out.items():
                            emitted[v] = len(z.df.collect())

            _run_op(ops, f"step{step}", call, delta_rows=n_rows, step=step)
            ops[-1].extra["out_rows"] = sum(emitted.values())
            if tracer.enabled:
                ops[-1].extra["plan_nodes"] = self._plan_nodes()
        return ops

    def _plan_nodes(self) -> int:
        """Analyzed-plan node count summed over the view snapshots and the
        integrated input tables; it tracks lineage growth between
        checkpoints (view snapshots are checkpointed every step, so the
        growth shows in the table states)."""
        frames = [self.inc.snapshot(v).df for v in IVM_VIEW_SQL]
        frames += [z.df for z in getattr(self.inc, "_state", {}).values()]
        total = 0
        for df in frames:
            plan = df._jdf.queryExecution().analyzed()
            total += len(plan.treeString().rstrip("\n").split("\n"))
        return total

    def gate(self) -> list[tuple[str, str | None]]:
        from sql_to_dbsp_compiler_spark.testing import compare_frames

        con = duckdb.connect()
        try:
            for t, tab in self.final_tables.items():
                con.register(t, tab)
            out = []
            for v, sql in IVM_VIEW_SQL.items():
                got = self.inc.snapshot(v).to_multiset_df().toPandas()
                want = con.execute(sql).fetch_df()
                probs = compare_frames(got, want)
                out.append((f"view {v}", "; ".join(probs[:2]) if probs else None))
            return out
        finally:
            con.close()


# ---- delta_state_loop: on-disk dedup and IVF state ---------------------

DEDUP_ORACLE_KEY = "y_dedup_delta_commit"


def _tree_stats(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / 1e6


class DeltaStateLoop:
    """K rounds of signed changes against a standing corpus whose dedup
    buckets and IVF store live on disk. Each pass starts from an
    identical copy of the standing state."""

    def __init__(self, bench: Bench, sf: float, k: int, docs_per_round: int,
                 vecs_per_round: int, nlist: int = 16):
        self.b = bench
        self.sf, self.k = sf, k
        self.docs_per_round, self.vecs_per_round = docs_per_round, vecs_per_round
        self.nlist = nlist
        self.data = os.path.join(bench.work, "data")
        self.inputs = os.path.join(bench.work, "rounds")
        self.standing = os.path.join(bench.work, "standing")
        self.passes = 0
        self.last_state: tuple[str, str] | None = None
        self.state_log: list[dict] = []

    def setup(self) -> None:
        scale = datagen.Scale.sf(self.sf)
        datagen.generate(self.data, self.b.seed, scale)
        rounds = datagen.corpus_rounds(
            self.b.seed, scale.documents, scale.embeddings, self.k,
            self.docs_per_round, self.vecs_per_round,
        )
        self._write_rounds(rounds)
        with self.b.timed_phase("register"):
            self.docs0 = self.b.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
            self.emb0 = self.b.spark.read.parquet(os.path.join(self.data, "embeddings.parquet"))
        with self.b.timed_phase("state_build"):
            self._build_standing()

    def _write_rounds(self, rounds: list) -> None:
        """Per round: the corpus after the inserts (``docs``), the new,
        deleted and updated docs, and the vector changes. The final
        corpus is kept for the oracle."""
        docs = pq.read_table(os.path.join(self.data, "documents.parquet")).select(["doc_id", "text"])
        vecs = pq.read_table(os.path.join(self.data, "embeddings.parquet")).select(["vec_id", "embedding"])
        for r, rd in enumerate(rounds):
            d = os.path.join(self.inputs, str(r))
            os.makedirs(d, exist_ok=True)
            docs = pa.concat_tables([docs, rd.new_docs])
            pq.write_table(docs, os.path.join(d, "docs.parquet"))
            pq.write_table(rd.new_docs, os.path.join(d, "new_docs.parquet"))
            pq.write_table(rd.updated_docs, os.path.join(d, "updated_docs.parquet"))
            pq.write_table(pa.table({"doc_id": pa.array(rd.deleted_docs, pa.int64())}),
                           os.path.join(d, "deleted_docs.parquet"))
            pq.write_table(rd.new_vecs, os.path.join(d, "new_vecs.parquet"))
            pq.write_table(pa.table({"vec_id": pa.array(rd.deleted_vecs, pa.int64())}),
                           os.path.join(d, "deleted_vecs.parquet"))
            gone = pa.array(rd.deleted_docs + rd.updated_docs.column("doc_id").to_pylist(), pa.int64())
            import pyarrow.compute as pc

            docs = pa.concat_tables([
                docs.filter(pc.invert(pc.is_in(docs.column("doc_id"), gone))),
                rd.updated_docs,
            ])
            vgone = pa.array(rd.deleted_vecs, pa.int64())
            vecs = pa.concat_tables([
                vecs.filter(pc.invert(pc.is_in(vecs.column("vec_id"), vgone))),
                rd.new_vecs,
            ])
        self.final_docs, self.final_vecs = docs, vecs

    def _build_standing(self) -> None:
        from pyspark.sql import functions as F

        from sql_to_dbsp_compiler_spark.llm.dedup import banded_md5, minhash_signatures_md5
        from sql_to_dbsp_compiler_spark.llm.similarity import ivf_train_kmeans

        shutil.rmtree(self.standing, ignore_errors=True)
        banded_md5(minhash_signatures_md5(self.docs0, "doc_id", "text", 16, 3)).repartition(
            1
        ).write.parquet(os.path.join(self.standing, "buckets", "v0"))
        cent, assigned = ivf_train_kmeans(
            self.emb0.select("vec_id", "embedding"), nlist=self.nlist
        )
        store = os.path.join(self.standing, "ivf")
        cent.write.parquet(os.path.join(store, "_centroids"))
        assigned.write.partitionBy("centroid_id").parquet(os.path.join(store, "vectors"))
        self.queries = self.emb0.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def prepare(self, tracer) -> None:
        self.state = os.path.join(self.b.work, f"pass{self.passes}")
        self.passes += 1
        shutil.copytree(self.standing, self.state)

    def run_pass(self, tracer) -> list[Op]:
        from sql_to_dbsp_compiler_spark.llm.dedup import (
            delta_dedup_apply, delta_dedup_retract, delta_state_retract_commit,
        )
        from sql_to_dbsp_compiler_spark.llm.similarity import (
            ivf_assign_to, ivf_query_store, ivf_store_append, ivf_store_compact,
            ivf_store_delete,
        )

        spark = self.b.spark
        state = self.state
        store = os.path.join(state, "ivf")
        ver = 0
        ops: list[Op] = []
        self.state_log = []

        def read(r, name):
            return spark.read.parquet(os.path.join(self.inputs, str(r), f"{name}.parquet"))

        def buckets(v):
            return spark.read.parquet(os.path.join(state, "buckets", f"v{v}"))

        def op(name, fn):
            def call():
                with tracer.span(f"op.{name}"):
                    return fn()
            return _run_op(ops, name, call)

        for r in range(self.k):
            docs, new = read(r, "docs"), read(r, "new_docs")
            upd, dele = read(r, "updated_docs"), read(r, "deleted_docs")

            def apply_():
                with tracer.span("llm.delta_dedup_apply"):
                    pairs = delta_dedup_apply(docs, new, buckets(ver), threshold=0.5)
                with tracer.span("sink.exec"):
                    _noop(pairs)

            def commit(retract_ids, updated, v_from):
                def run():
                    with tracer.span("llm.delta_state_retract_commit"):
                        nxt = delta_state_retract_commit(buckets(v_from), retract_ids, updated)
                    with tracer.span("llm.state_write"):
                        nxt.write.parquet(os.path.join(state, "buckets", f"v{v_from + 1}"))
                return run

            def retract():
                with tracer.span("llm.delta_dedup_retract"):
                    change = delta_dedup_retract(docs, dele, upd, buckets(ver))
                with tracer.span("sink.exec"):
                    _noop(change)

            op("apply", apply_)
            op("commit", commit(new.select("doc_id").limit(0), new, ver))
            ver += 1
            op("retract", retract)
            op("retract_commit", commit(dele.unionByName(upd.select("doc_id")), upd, ver))
            ver += 1

            cent = spark.read.parquet(os.path.join(store, "_centroids"))
            assigned = {}

            def assign():
                with tracer.span("llm.ivf_assign_to"):
                    df = ivf_assign_to(read(r, "new_vecs"), cent)
                with tracer.span("sink.exec"):
                    assigned["df"] = df.localCheckpoint()

            def append():
                with tracer.span("llm.ivf_store_append"):
                    ivf_store_append(assigned["df"], store)

            def delete():
                with tracer.span("llm.ivf_store_delete"):
                    ivf_store_delete(read(r, "deleted_vecs"), store)

            def compact():
                with tracer.span("llm.ivf_store_compact"):
                    return ivf_store_compact(spark, store, max_tombstone_frac=0.1)

            def query():
                with tracer.span("llm.ivf_query_store"):
                    res = ivf_query_store(spark, store, self.queries, k=5, nprobe=4)
                with tracer.span("sink.exec"):
                    _noop(res)

            op("ivf_assign", assign)
            op("ivf_append", append)
            op("ivf_delete", delete)
            compacted = op("ivf_compact", compact)
            op("ivf_query", query)
            files_b, mb_b = _tree_stats(os.path.join(state, "buckets", f"v{ver}"))
            files_i, mb_i = _tree_stats(store)
            dels = os.path.join(store, "_deletes")
            tomb = pq.read_table(dels).num_rows if os.path.isdir(dels) else 0
            self.state_log.append({
                "round": r + 1, "state_files": files_b + files_i,
                "state_mb": mb_b + mb_i, "tombstones": tomb,
                "compacted": (compacted or {}).get("compacted"),
            })
        if self.last_state is not None:
            shutil.rmtree(self.last_state[0], ignore_errors=True)
        self.last_state = (state, os.path.join(state, "buckets", f"v{ver}"))
        return ops

    def gate(self) -> list[tuple[str, str | None]]:
        from sql_to_dbsp_compiler_spark.llm.similarity import ivf_store_live
        from sql_to_dbsp_compiler_spark.queries import REGISTRY
        from sql_to_dbsp_compiler_spark.testing import compare_frames

        state, bucket_dir = self.last_state
        con = duckdb.connect()
        try:
            con.register("documents", self.final_docs)
            want = con.execute(REGISTRY[DEDUP_ORACLE_KEY].oracle).fetch_df()
            got = self.b.spark.read.parquet(bucket_dir).toPandas()
            probs = compare_frames(got, want)
            out = [("dedup bucket state", "; ".join(probs[:2]) if probs else None)]
            cent = pq.read_table(os.path.join(state, "ivf", "_centroids"))
            con.register("cent_raw", cent)
            con.register("vecs", self.final_vecs)
            want = con.execute(
                """
                SELECT vec_id, centroid_id FROM (
                    SELECT v.vec_id, c.centroid_id,
                           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                               ORDER BY list_cosine_similarity(
                                            CAST(v.embedding AS DOUBLE[]),
                                            CAST(c.cvec AS DOUBLE[])) DESC,
                                        c.centroid_id) AS r
                    FROM vecs v CROSS JOIN cent_raw c
                ) WHERE r = 1
                """
            ).fetch_df()
            got = ivf_store_live(self.b.spark, os.path.join(state, "ivf")).select(
                "vec_id", "centroid_id"
            ).toPandas()
            probs = compare_frames(got, want)
            out.append(("ivf live store", "; ".join(probs[:2]) if probs else None))
            return out
        finally:
            con.close()
