"""The three workloads: what one pass runs and how its output is checked.

A workload turns a seeded ``random.Random`` into passes of operations.
Each operation is a zero-argument callable that does the timed work and
returns its timings; whatever the check needs is stashed on the
workload and verified only after the timed phase (``check``).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import oracle
from perfbench.harness import Session, Tracer, force_plan, trace_engine


@dataclass
class Op:
    label: str
    run: Callable[[], dict]  # timed work; returns at least "latency_s"
    extra: dict  # inputs and outputs the check needs


class Workload:
    name = ""
    sf = 0.0
    tables: tuple[str, ...] = ()
    python_workers = False

    def start(self, session: Session, sf_dir: str, work: str, tracer: Tracer) -> None:
        self.session = session
        self.spark = session.spark
        self.sf_dir = sf_dir
        self.work = work
        self.tracer = tracer

    def trace(self) -> None:
        """Install the layer wrappers (traced runs only)."""

    def make_pass(self, rng) -> list[Op]:
        raise NotImplementedError

    def check(self, con, ops: list[tuple[int, Op]], corrupt: bool) -> set[int]:
        """Return the ids of the ``(id, op)`` pairs whose output was wrong."""
        raise NotImplementedError

    def close(self) -> None:
        pass


# --------------------------------------------------------------- sql_service

POLL_INTERVAL_S = 0.02  # client status poll; well below latency_p50_s
PAGE_ROWS = 100


def _ref_scan(rng):
    m = rng.choice((5, 7, 11, 13))
    r = rng.randrange(m)
    q = rng.randrange(0, 30)
    body = (
        "select l_orderkey, l_linenumber, l_quantity + 10.0 as qty_plus_10, "
        "l_orderkey * 3 as key_x3 from {lineitem} "
        f"where l_orderkey % {m} = {r} and l_quantity > {q} + 0.0"
    )
    return "reference", body


def _ref_arith(rng):
    m = rng.choice((3, 4, 6))
    r = rng.randrange(m)
    body = (
        "select l_orderkey, l_extendedprice * 2.0 as price_x2, "
        "l_orderkey + l_linenumber as key_plus_line, l_tax * 100.0 as tax_pct "
        f"from {{lineitem}} where l_orderkey % {m} = {r} and 1 + 1 = 2"
    )
    return "reference", body


def _group_by(rng):
    day = rng.randrange(400, 2400)
    body = (
        "select l_returnflag, l_linestatus, count(*) as n_lines, "
        "{dsum:l_quantity} as sum_qty from {lineitem} "
        f"where l_shipdate < TIMESTAMP '1995-01-01 00:00:00' + INTERVAL {day} DAY "
        "group by l_returnflag, l_linestatus"
    )
    return "spark", body


def _join_agg(rng):
    q = rng.randrange(10, 45)
    body = (
        "select o.o_orderpriority, count(*) as n_lines, "
        "{dsum:l.l_extendedprice} as sum_price from {orders} o "
        "join {lineitem} l on o.o_orderkey = l.l_orderkey "
        f"where l.l_quantity > {q} group by o.o_orderpriority"
    )
    return "spark", body


SERVICE_TEMPLATES = (_ref_scan, _ref_arith, _group_by, _join_agg)


class SqlService(Workload):
    """One closed-loop client → HTTP QueryService → QueryEngine."""

    name = "sql_service"
    sf = 0.01
    tables = ("lineitem", "orders")

    def start(self, session, sf_dir, work, tracer):
        super().start(session, sf_dir, work, tracer)
        from chapterhouseqe_spark import (
            ConnectionRegistry,
            QueryEngine,
            QueryService,
            QueryServiceClient,
        )

        self.engine = QueryEngine(
            self.spark,
            results_root=os.path.join(work, "results"),
            registry=ConnectionRegistry(default_base=sf_dir),
        )
        self.service = QueryService(self.engine).__enter__()
        self.client = QueryServiceClient(self.service.address)

    def trace(self):
        trace_engine(self.tracer, self.engine)
        self.tracer.wrap(self.client, "_call", "service.client")
        self.tracer.wrap(self.client, "get_query_status", "service.poll")

    def make_pass(self, rng):
        order = list(SERVICE_TEMPLATES)
        rng.shuffle(order)
        ops = []
        for tpl in order:
            mode, body = tpl(rng)
            extra = {"mode": mode, "body": body}
            ops.append(Op(tpl.__name__.lstrip("_"), self._runner(extra), extra))
        return ops

    def _runner(self, extra):
        from chapterhouseqe_spark import QueryDataIterator

        sql = oracle.render(extra["body"], "engine")
        mode = extra["mode"]

        def run():
            client = self.client
            t0 = time.perf_counter()
            qid = client.run_query(sql, mode=mode)
            st = client.wait_for_query_to_finish(qid, poll_interval=POLL_INTERVAL_S)
            t_done = time.perf_counter() - t0
            if st["status"] != "complete":
                raise RuntimeError(f"query {st['status']}: {st.get('error')}")
            rows, offsets = client.get_query_data(qid, 0, PAGE_ROWS)
            t_first = time.perf_counter() - t0
            pages = [(rows, offsets)]
            n = st["num_rows"]
            for it in (
                QueryDataIterator(client, qid, start_offset=len(rows), limit=PAGE_ROWS),
                QueryDataIterator(
                    client, qid, start_offset=max(0, n - 1), limit=PAGE_ROWS, forward=False
                ),
            ):
                page = it.next()
                if page is not None:
                    pages.append(page)
            extra.update(qid=qid, num_rows=n, pages=pages)
            return {"latency_s": t_done, "first_page_s": t_first}

        return run

    def check(self, con, ops, corrupt):
        oracle.register_tables(con, self.sf_dir, self.tables)
        failed = set()
        for i, op in ops:
            path = os.path.join(self.engine.results_root, op.extra["qid"])
            if corrupt and not failed:
                oracle.drop_one_row(path)
            if not oracle.service_result_ok(con, path, op.extra, PAGE_ROWS):
                failed.add(i)
        return failed

    def close(self):
        if hasattr(self, "service"):
            self.service.__exit__(None, None, None)


# ------------------------------------------------------------ pipeline_batch

PIPELINE_MIX = (
    ("dedup_minhash_lsh", "dedup"),
    ("dedup_ngram_jaccard", "dedup"),
    ("dedup_simhash", "dedup"),
    ("text_quality_score", "text"),
    ("embedding_cosine_topk", "similarity"),
    ("embedding_ivfpq_topk", "similarity"),
    ("graph_triangle_count", "graph"),
    ("pagerank_supplier_graph", "graph"),
    ("multimodal_decode_features", "multimodal"),
)


class PipelineBatch(Workload):
    """Registry builders materialized through the noop sink."""

    name = "pipeline_batch"
    sf = 0.01
    tables = ("documents", "embeddings", "lineitem")
    python_workers = True

    def start(self, session, sf_dir, work, tracer):
        super().start(session, sf_dir, work, tracer)
        from chapterhouseqe_spark.queries.registry import get_queries

        self.queries = get_queries()
        self.order: list[tuple[str, str]] | None = None
        self.last_df: dict[str, object] = {}

    def make_pass(self, rng):
        if self.order is None:  # the seed fixes one order for the run
            self.order = list(PIPELINE_MIX)
            rng.shuffle(self.order)
        return [Op(name, self._runner(name, fam), {}) for name, fam in self.order]

    def _runner(self, name, family):
        build = self.queries[name]

        def run():
            tracer = self.tracer
            t0 = time.perf_counter()
            with tracer.span("operators.build", jobs=True, family=family):
                df = build(self.spark, self.sf_dir)
            if tracer.enabled:
                force_plan(tracer, df)
            with tracer.span("spark.exec", jobs=True):
                df.write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
            self.last_df[name] = df
            return {"latency_s": latency}

        return run

    def check(self, con, ops, corrupt):
        from chapterhouseqe_spark.queries.registry import get_oracles

        oracles = get_oracles()
        oracle.register_tables(con, self.sf_dir, self.tables)
        wrong = set()
        for name, df in self.last_df.items():
            if corrupt and not wrong:
                df = df.limit(max(0, df.count() - 1))
            if not oracle.pipeline_result_ok(name, df, oracles[name], con):
                wrong.add(name)
        # the program is deterministic: a query whose output is wrong
        # once is counted failed at every op that ran it
        return {i for i, op in ops if op.label in wrong}


# ------------------------------------------------------------------ tpch_etl


def _q1(rng):
    day = rng.randrange(1800, 2450)
    return (
        "select l_returnflag, l_linestatus, {dsum:l_quantity} as sum_qty, "
        "{dsum:l_extendedprice} as sum_base_price, "
        "{dsumx:CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))} as sum_disc_price, "
        "count(*) as count_order from {lineitem} "
        f"where l_shipdate <= TIMESTAMP '1995-01-01 00:00:00' + INTERVAL {day} DAY "
        "group by l_returnflag, l_linestatus"
    ), None


def _q3(rng):
    seg = rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
    day = rng.randrange(600, 1800)
    cut = f"TIMESTAMP '1995-01-01 00:00:00' + INTERVAL {day} DAY"
    return (
        "select l.l_orderkey, o.o_orderdate, o.o_orderpriority, "
        "{dsumx:CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))} as revenue "
        "from {customer} c join {orders} o on c.c_custkey = o.o_custkey "
        "join {lineitem} l on l.l_orderkey = o.o_orderkey "
        f"where c.c_mktsegment = '{seg}' and o.o_orderdate < {cut} and l.l_shipdate > {cut} "
        "group by l.l_orderkey, o.o_orderdate, o.o_orderpriority"
    ), None


def _q5(rng):
    region = rng.choice(("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
    year = rng.randrange(1995, 2001)
    return (
        "select n.n_name, "
        "{dsumx:CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))} as revenue "
        "from {customer} c join {orders} o on c.c_custkey = o.o_custkey "
        "join {lineitem} l on l.l_orderkey = o.o_orderkey "
        "join {supplier} s on l.l_suppkey = s.s_suppkey and c.c_nationkey = s.s_nationkey "
        "join {nation} n on s.s_nationkey = n.n_nationkey "
        "join {region} r on n.n_regionkey = r.r_regionkey "
        f"where r.r_name = '{region}' and o.o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
        f"and o.o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00' group by n.n_name"
    ), None


def _q18(rng):
    qty = rng.randrange(150, 175)
    return (
        "select c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice, "
        "sum(l.l_quantity) as sum_qty "
        "from {customer} c join {orders} o on c.c_custkey = o.o_custkey "
        "join {lineitem} l on o.o_orderkey = l.l_orderkey "
        "where o.o_orderkey in (select l_orderkey from {lineitem} "
        f"group by l_orderkey having sum(l_quantity) > {qty}) "
        "group by c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice"
    ), None


def _rank_topn(rng):
    k = rng.randrange(1, 4)
    return (
        "select o_custkey, o_orderkey, o_totalprice, rn from ("
        "select o_custkey, o_orderkey, o_totalprice, row_number() over ("
        "partition by o_custkey order by o_totalprice desc, o_orderkey) as rn "
        f"from {{orders}}) ranked where rn <= {k}"
    ), None


def _wide_write(rng):
    # the reference's huge_simple filter over lineitem, hive-partitioned
    return "select * from {lineitem} where l_orderkey % 2 = 0", ["l_returnflag"]


ETL_QUERIES = (_q1, _q3, _q5, _q18, _rank_topn, _wide_write)


class TpchEtl(Workload):
    """Spark-mode SQL over read_files written by QueryEngine.materialize."""

    name = "tpch_etl"
    sf = 0.1
    tables = ("lineitem", "orders", "customer", "supplier", "nation", "region")

    def start(self, session, sf_dir, work, tracer):
        super().start(session, sf_dir, work, tracer)
        from chapterhouseqe_spark import ConnectionRegistry, QueryEngine

        self.engine = QueryEngine(
            self.spark,
            results_root=os.path.join(work, "results"),
            registry=ConnectionRegistry(default_base=sf_dir),
        )
        self.out_root = os.path.join(work, "etl")
        self.n_out = 0

    def trace(self):
        trace_engine(self.tracer, self.engine)

    def make_pass(self, rng):
        order = list(ETL_QUERIES)
        rng.shuffle(order)
        ops = []
        for q in order:
            body, partition_by = q(rng)
            extra = {"body": body, "partition_by": partition_by}
            ops.append(Op(q.__name__.lstrip("_"), self._runner(extra), extra))
        return ops

    def _runner(self, extra):
        sql = oracle.render(extra["body"], "engine")

        def run():
            self.n_out += 1
            path = os.path.join(self.out_root, str(self.n_out))
            t0 = time.perf_counter()
            rows = self.engine.materialize(sql, path, partition_by=extra["partition_by"])
            latency = time.perf_counter() - t0
            extra.update(path=path, rows=rows)
            return {"latency_s": latency}

        return run

    def check(self, con, ops, corrupt):
        oracle.register_tables(con, self.sf_dir, self.tables)
        failed = set()
        for i, op in ops:
            if corrupt and not failed:
                oracle.drop_one_row(op.extra["path"])
            if not oracle.written_result_ok(con, op.extra):
                failed.add(i)
        return failed


WORKLOADS = {w.name: w for w in (SqlService, PipelineBatch, TpchEtl)}
