"""query_mix: the registered-query suite's long tail. Each op runs one
registered query the way the repo's bench does — build the frame with
the query function, then write it to the `noop` sink.

Inputs are the documents, embeddings and events tables generated from
the seed. The queries were chosen because they read only those tables,
write nothing, carry a DuckDB oracle, and each take well under two
seconds on 4 cores.

Checks: in set-up, each query's collected rows are compared with its
oracle SQL run by DuckDB over the same parquet files. The frame carries
an in-plan observation of its row count and of a hash of its
exact-typed columns; every timed op carries the same observation, which
must equal the oracle's row count and the checked result's hash.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from pyspark.sql import Observation

from harness import Op

# One or two queries per query module, so that a pass is short enough
# to repeat several times in a run.
QUERIES = [
    "events_hourly", "events_sessions", "events_funnel", "events_quantiles",
    "kmeans_assign", "kmeans_sse", "sim_topk_bruteforce", "sql_udf_norms",
    "dedup_exact", "token_counts",
]
N_DOCS, N_EMB, N_EVENTS, N_USERS = 5_000, 2_000, 100_000, 1_500
TABLES = ("documents", "embeddings", "events")
FLOAT_RTOL = 1e-9
WARMUP_THREADS = 4


def canon(v):
    """A comparable form of one collected value from Spark or DuckDB."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple((canon(k), canon(x)) for k, x in sorted(v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (a struct)
        return tuple(canon(x) for x in v)
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(canon(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return v


def _sort_key(row):
    """Order rows by their values with floats coarsened, so rows that
    differ only in the last digits of a float sort side by side."""
    def k(v):
        if isinstance(v, float):
            return (1, float(f"{v:.6g}") if math.isfinite(v) else repr(v))
        if isinstance(v, tuple):
            return (2, tuple(k(x) for x in v))
        return (0, repr(v))
    return tuple(k(v) for v in row)


def _last_decimal(x: float) -> float:
    """Place value of the last decimal a float prints with: the
    granularity of a value the query rounded."""
    s = repr(x)
    if "e" in s or "." not in s:
        return 0.0
    return 10.0 ** -len(s.split(".")[1])


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # both engines round halves their own way: allow one unit in
        # the last decimal of a rounded value
        return (math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=1e-12)
                or abs(a - b) <= 1.01 * min(_last_decimal(a), _last_decimal(b)))
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) and _same(float(a), float(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None if the two row multisets match, else what differs."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    g = sorted((tuple(canon(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(canon(v) for v in r) for r in want), key=_sort_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if not _same(a, b):
            return f"row {i} differs: {a!r} vs oracle {b!r}"[:300]
    return None


def _observed(df, obs):
    """df with an observation of its row count and of a hash over its
    exact-typed (non-floating) columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    exact = (T.IntegralType, T.StringType, T.BooleanType, T.DateType,
             T.TimestampType, T.TimestampNTZType, T.BinaryType)
    cols = [F.col(f"`{f.name}`") for f in df.schema.fields if isinstance(f.dataType, exact)]
    h = F.sum(F.xxhash64(*cols).cast("decimal(38,0)")) if cols else F.lit(0)
    return df.observe(obs, F.count(F.lit(1)).alias("n"), h.alias("h"))


def _observation(obs) -> tuple[int, int]:
    got = obs.get
    return int(got["n"]), int(got["h"] or 0)  # the sum over no rows is null


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.oracle_rows: dict[str, int] = {}
        # exact-column hash of the result that was compared with the oracle
        self.checked_hash: dict[str, int] = {}

    def setup(self) -> None:
        import duckdb
        from gen_scale import gen_documents, gen_embeddings, gen_events

        from apachebeamkmeans_spark.registry import all_queries

        ctx = self.ctx
        rng = ctx.rng
        tables = {
            "documents": gen_documents(N_DOCS, rng),
            "embeddings": gen_embeddings(N_EMB, rng),
            "events": gen_events(N_EVENTS, N_USERS, rng),
        }
        for name, t in tables.items():
            pq.write_table(t, f"{ctx.data_dir}/{name}.parquet")
        registry = all_queries()
        self.fns = {q: registry[q][0] for q in QUERIES}

        def collect(q):
            obs = Observation(q)
            rows = _observed(self.fns[q](ctx.spark, ctx.data_dir), obs).collect()
            # then one run of the timed path, whose plan (noop sink)
            # compiles to other classes than the collect's
            return [tuple(r) for r in rows], _observation(obs), self._run(q)

        # The untimed full check and a run of the timed path are each
        # query's warm-up: a query's first runs cost up to twice the CPU
        # of later ones. Spark runs them on WARMUP_THREADS client threads
        # while DuckDB runs the oracles on this one: set-up is mostly
        # first-call planning and code generation, which threads overlap.
        con = duckdb.connect(config={"threads": 1})
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            futures = {q: pool.submit(collect, q) for q in QUERIES}
            try:
                con.execute("SET TimeZone = 'UTC'")
                for name in TABLES:
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                                f"read_parquet('{ctx.data_dir}/{name}.parquet')")
                want = {q: con.execute(registry[q][1]).fetchall() for q in QUERIES}
            finally:
                con.close()
            for q in QUERIES:
                got, (n, h), warm = futures[q].result()
                diff = compare_rows(got, want[q])
                if diff is not None:
                    raise AssertionError(f"{q} does not match its oracle: {diff}")
                if n != len(got):
                    raise AssertionError(f"{q}: observed {n} rows, collected {len(got)}")
                self.oracle_rows[q] = len(want[q])
                self.checked_hash[q] = h
                self._check(q, warm)

    def pass_ops(self) -> list[Op]:
        return [self._op(QUERIES[i]) for i in self.ctx.rng.permutation(len(QUERIES))]

    def _op(self, q: str) -> Op:
        return Op("query", q, run=lambda: self._run(q), check=lambda obs: self._check(q, obs))

    def _run(self, q: str):
        tr = self.ctx.tracer
        obs = Observation(q)
        with tr.span("mix.build"):
            df = _observed(self.fns[q](self.ctx.spark, self.ctx.data_dir), obs)
        with tr.span("mix.exec"):
            df.write.format("noop").mode("overwrite").save()
        return obs

    def _check(self, q: str, obs) -> None:
        n, h = _observation(obs)
        if n != self.oracle_rows[q]:
            raise AssertionError(f"{q}: {n} rows, oracle has {self.oracle_rows[q]}")
        if h != self.checked_hash[q]:
            raise AssertionError(f"{q}: exact-column hash {h} differs from the "
                                 f"oracle-checked result's {self.checked_hash[q]}")

    def info(self) -> dict:
        return {"queries": len(QUERIES)}
