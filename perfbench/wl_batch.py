"""The relational half of batch_analytics: bulk queries over a star schema.

Each cycle is one pass over every query, in a fixed order. Each query's
result is collected: whole when it is small, else as an aggregate
fingerprint (row count plus column sums) computed by the engine, so the
whole plan runs and little data crosses to the driver. The untimed
warm-up runs the first query once: most of a cold session's first-call
cost is paid by whichever query comes first. After the window, every
timed run's output is compared with DuckDB over the same parquet.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import gen
from checks import frames_match

_REV = "l_extendedprice * (1 - l_discount)"


class Workload:
    def __init__(self, run):
        self.run = run
        self.oracle: dict[str, pd.DataFrame] = {}

    def setup(self) -> None:
        from cl_data_frame_spark.sources import read_parquet
        run = self.run
        data = os.path.join(run.work_dir, "data")
        self.data = data
        names = ("lineitem", "orders", "supplier", "nation")
        tables = gen.write_star(run.seed, gen.BATCH_ORDERS, data, only=names)
        gen.write_table(gen.quotes(run.seed), os.path.join(data, "quotes.parquet"))
        self.n = len(tables["lineitem"])
        run.notes.setdefault("rows", {}).update(
            lineitem=self.n, orders=len(tables["orders"]))
        self.queries = self._queries(
            {t: read_parquet(run.spark, os.path.join(data, f"{t}.parquet"))
             for t in names + ("quotes",)})

    # -- queries -----------------------------------------------------------------
    # (metric name, builder -> SparkFrame, DuckDB SQL, fingerprint): the
    # fingerprint is None (collect and compare the whole output) or a list
    # of column expressions (collect and compare row count + their sums)

    def _queries(self, f):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cl_data_frame_spark import summary
        from cl_data_frame_spark.operators import relational as R
        from cl_data_frame_spark.operators import stats as S
        li = f["lineitem"]
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))

        def join_broadcast():
            j = R.join(li, f["supplier"], on=F.col("l_suppkey") == F.col("s_suppkey"),
                       broadcast_right=True)
            j = R.join(j, f["nation"], on=F.col("s_nationkey") == F.col("n_nationkey"),
                       broadcast_right=True)
            return R.group_agg(j, ["n_name"], {"revenue": F.sum(rev),
                                               "n": F.count(F.lit(1))})

        def join_orders():
            j = R.join(li, f["orders"], on=F.col("l_orderkey") == F.col("o_orderkey"))
            return R.group_agg(j, ["o_orderpriority", "o_orderstatus"],
                               {"revenue": F.sum(rev), "n": F.count(F.lit(1))})

        def window_running():
            w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber")
            return R.window_over(
                li.select(["l_suppkey", "l_orderkey", "l_linenumber",
                           "l_quantity", "l_extendedprice"]),
                {"run_qty": F.sum("l_quantity").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)),
                 "prev_price": F.lag("l_extendedprice").over(w)})

        def asof_join():
            left = li.select(["l_orderkey", "l_linenumber", "l_partkey",
                              "l_shipdate"]).rename_columns(
                {"l_partkey": "pk", "l_shipdate": "t"})
            return R.asof_join(left, f["quotes"], on="t", by="pk")

        def iqr_outliers():
            return S.iqr_outliers(
                li.select(["l_returnflag", "l_linestatus", "l_extendedprice"]),
                "l_extendedprice", by=["l_returnflag", "l_linestatus"])

        num = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        prof = ["l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag",
                "l_linestatus"]
        pair_sql = " UNION ALL ".join(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, count(*) AS n, "
            f"round(corr({x}, {y}), 6) AS corr, "
            f"round(covar_samp({x}, {y}), 6) AS cov_samp FROM lineitem"
            for i, x in enumerate(num) for y in num[i + 1:])
        prof_sql = " UNION ALL ".join(
            f"SELECT '{c}' AS column, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_null, count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS min_str, CAST(max({c}) AS VARCHAR) "
            f"AS max_str, "
            + (f"round(avg({c}), 6)" if c not in ("l_returnflag", "l_linestatus")
               else "CAST(NULL AS DOUBLE)") + " AS mean FROM lineitem"
            for c in prof)
        return [
            ("relational.join_broadcast", join_broadcast,
             f"SELECT n_name, sum({_REV}) AS revenue, count(*) AS n FROM lineitem "
             "JOIN supplier ON l_suppkey = s_suppkey "
             "JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name", None),
            ("relational.join_orders", join_orders,
             f"SELECT o_orderpriority, o_orderstatus, sum({_REV}) AS revenue, "
             "count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
             "GROUP BY o_orderpriority, o_orderstatus", None),
            ("relational.window_running", window_running,
             "SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
             "sum(l_quantity) OVER w AS run_qty, lag(l_extendedprice) OVER w "
             "AS prev_price FROM lineitem WINDOW w AS (PARTITION BY l_suppkey "
             "ORDER BY l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING "
             "AND CURRENT ROW)", ["run_qty", "prev_price"]),
            ("relational.asof_join", asof_join,
             "SELECT l.l_orderkey, l.l_linenumber, l.l_partkey AS pk, "
             "l.l_shipdate AS t, q.q_price AS r_q_price FROM lineitem l "
             "ASOF LEFT JOIN quotes q ON l.l_partkey = q.pk AND l.l_shipdate >= q.t",
             ["r_q_price"]),
            ("stats.iqr_outliers", iqr_outliers,
             "WITH q AS (SELECT l_returnflag, l_linestatus, "
             "quantile_cont(l_extendedprice, 0.25) AS q1, "
             "quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem "
             "GROUP BY l_returnflag, l_linestatus) "
             "SELECT l.l_returnflag, l.l_linestatus, l.l_extendedprice, "
             "round(q1 - 1.5 * (q3 - q1), 6) AS fence_lo, "
             "round(q3 + 1.5 * (q3 - q1), 6) AS fence_hi, "
             "(l_extendedprice < q1 - 1.5 * (q3 - q1) OR "
             "l_extendedprice > q3 + 1.5 * (q3 - q1)) AS is_outlier "
             "FROM lineitem l JOIN q USING (l_returnflag, l_linestatus)",
             ["fence_lo", "fence_hi", "is_outlier"]),
            ("stats.corr_matrix", lambda: S.corr_matrix(li, num), pair_sql, None),
            ("summary.profile_table", lambda: summary.profile_table(li, prof),
             prof_sql, None),
        ]

    # -- the pass ----------------------------------------------------------------

    def warm_up(self) -> None:
        self._run_queries(self.queries[:1])

    def cycle(self, i: int) -> None:
        self._run_queries(self.queries)

    def _run_queries(self, queries) -> None:
        run = self.run
        for name, build, _, fp in queries:
            layer, fn = name.split(".", 1)
            layer = layer if layer == "summary" else f"operators.{layer}"
            with run.op(name) as op:
                got = run.call(layer, fn, lambda: self._collect(build(), fp))
                op.expect(name, lambda name=name, got=got: self._matches(name, got))

    @staticmethod
    def _fingerprint_exprs(exprs):
        return ["count(*) AS n"] + [
            f"sum(CAST({e} AS DOUBLE)) AS s{k}" for k, e in enumerate(exprs)]

    def _collect(self, frame, fp) -> pd.DataFrame:
        sdf = frame.spark_df
        if isinstance(fp, list):
            return sdf.selectExpr(*self._fingerprint_exprs(fp)).toPandas()
        return sdf.toPandas()

    # -- checks ------------------------------------------------------------------

    def _oracle(self) -> None:
        """DuckDB's answer to every query over the timed pass's parquet."""
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for t in ("lineitem", "orders", "supplier", "nation", "quotes"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, _, sql, fp in self.queries:
                if isinstance(fp, list):
                    sql = (f"SELECT {', '.join(self._fingerprint_exprs(fp))} "
                           f"FROM ({sql})")
                self.oracle[name] = con.execute(sql).df()
        finally:
            con.close()

    def _matches(self, name: str, got: pd.DataFrame) -> bool:
        if not self.oracle:
            self._oracle()
        want = self.oracle[name].copy()
        want.columns = list(got.columns)[:len(want.columns)]
        return frames_match(got, want)

    # -- per-layer metrics -------------------------------------------------------

    def layer_metrics(self) -> dict:
        from stats import percentile
        run = self.run
        out = {}
        for name, *_ in self.queries:
            layer, fn = name.split(".", 1)
            key = f"{'summary' if layer == 'summary' else 'operators.' + layer}.{fn}"
            recs = run.calls.get(key, [])
            if not recs:
                continue
            metric = "summary.profile_table_s" if layer == "summary" else f"{name}_s"
            out[metric] = percentile([c["wall_s"] for c in recs], 50)
            if layer == "summary":
                out["summary.jobs_per_call"] = sum(c["jobs"] for c in recs) / len(recs)
                continue
            n = len(recs)
            out[f"{name}.shuffle_bytes"] = sum(c["shuffleWriteBytes"] for c in recs) / n
            out[f"{name}.spill_bytes"] = sum(
                c["memoryBytesSpilled"] + c["diskBytesSpilled"] for c in recs) / n
            out[f"{name}.gc_ms"] = sum(c["jvmGcTime"] for c in recs) / n
        return out
