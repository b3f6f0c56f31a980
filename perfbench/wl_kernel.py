"""kernel_interactive: one closed-loop client issuing small Tier-R calls.

Each cycle runs every op kind once, in a seeded order with seeded
arguments, on a ~60k-row lineitem-shaped frame plus small dimension
tables. Each call touches little data, so its wall is mostly job launch,
Catalyst planning and py4j round trips in ``frame`` and ``summary``.
Every output is checked against pandas over the same generated data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import gen
from checks import frames_match

NAME = "kernel_interactive"
TAIL_Q = 75.0
LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax",
           "l_returnflag", "l_linestatus", "l_shipdate"]
SUMMARY_KEYS = ["l_quantity", "l_extendedprice", "l_discount"]


class Workload:
    def __init__(self, run):
        self.run = run

    def setup(self) -> None:
        from cl_data_frame_spark.sources import read_parquet
        run = self.run
        data = os.path.join(run.work_dir, "data")
        tables = gen.write_star(run.seed, gen.KERNEL_ORDERS, data,
                                only=("lineitem", "orders", "supplier"))
        self.pli, self.pord, self.psup = (
            tables["lineitem"], tables["orders"], tables["supplier"])
        self.n = len(self.pli)
        self.li, self.orders, self.supplier = [
            read_parquet(run.spark, os.path.join(data, f"{t}.parquet"))
            for t in ("lineitem", "orders", "supplier")]
        run.notes["rows"] = {"lineitem": self.n, "orders": len(self.pord),
                             "supplier": len(self.psup)}
        self.ops = [self.op_make_df, self.op_from_columns, self.op_nrow,
                    self.op_dims, self.op_column, self.op_slice_int,
                    self.op_slice_range, self.op_slice_mask,
                    self.op_slice_keys, self.op_count_rows,
                    self.op_map_rows_add_columns, self.op_replace_column,
                    self.op_column_summary, self.op_collect,
                    self.op_to_pandas, self.op_group_agg, self.op_top_k]

    def warm_up(self) -> None:
        """The ops whose first call costs most over their warm time: the
        first Python UDF (which starts the Python workers), map_rows, the
        first aggregation and column_summary. Together the other ops'
        first calls cost about 0.7 s over their warm time."""
        rng = np.random.default_rng([self.run.seed, 0])
        for op in (self.op_from_columns, self.op_map_rows_add_columns,
                   self.op_group_agg, self.op_column_summary):
            op(rng)

    def cycle(self, i: int) -> None:
        rng = np.random.default_rng([self.run.seed, i + 1])
        for k in rng.permutation(len(self.ops)):
            self.ops[k](rng)

    # -- ops --------------------------------------------------------------------

    def op_make_df(self, rng) -> None:
        import cl_data_frame_spark as cdf
        run = self.run
        n = 200
        cols = [[int(x) for x in rng.integers(0, 10 ** 6, n)],
                [float(x) for x in np.round(rng.uniform(0, 100, n), 3)],
                [f"s{int(x)}" for x in rng.integers(0, 50, n)]]
        with run.op("make_df") as op:
            f = run.call("frame", "make_df",
                         lambda: cdf.make_df(run.spark, ["k", "x", "s"], cols))
            out = run.call("frame", "to_pandas", f.to_pandas)
            op.expect("make_df round trip", lambda: frames_match(
                out, pd.DataFrame({"k": cols[0], "x": cols[1], "s": cols[2]}),
                ordered=True))

    def op_from_columns(self, rng) -> None:
        from cl_data_frame_spark import SparkFrame
        run = self.run
        n = 500
        a = [int(x) for x in rng.integers(0, 1000, n)]
        b = [float(x) for x in rng.uniform(0, 1, n)]
        t = int(rng.integers(100, 900))
        with run.op("from_columns") as op:
            f = run.call("frame", "from_columns",
                         lambda: SparkFrame.from_columns(run.spark, "a", a, "b", b))
            got = run.call("frame", "count_rows",
                           lambda: f.count_rows(["a"], lambda x: x > t))
            op.expect("from_columns count", lambda: got == sum(x > t for x in a))

    def op_nrow(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        q = float(rng.integers(1, 50))
        with run.op("nrow") as op:
            f = run.call("frame", "filter",
                         lambda: self.li.filter(F.col("l_quantity") > q))
            got = run.call("frame", "nrow", lambda: f.nrow)
            op.expect("nrow", lambda: got == int((self.pli.l_quantity > q).sum()))

    def op_dims(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        d = float(rng.integers(0, 11)) / 100.0
        keys = ["l_orderkey", "l_discount", "l_returnflag"]
        with run.op("dims") as op:
            f = run.call("frame", "select", lambda: self.li.select(keys))
            f = run.call("frame", "filter",
                         lambda: f.filter(F.col("l_discount") >= d))
            got = run.call("frame", "dims", lambda: f.dims)
            op.expect("dims", lambda: got == (
                int((self.pli.l_discount >= d).sum()), 3))

    def op_column(self, rng) -> None:
        run = self.run
        key = ["s_acctbal", "s_name", "s_nationkey"][int(rng.integers(0, 3))]
        with run.op("column") as op:
            got = run.call("frame", "column", lambda: self.supplier.column(key))
            op.expect("column", lambda: frames_match(
                pd.DataFrame({key: got}), self.psup[[key]], ordered=True))

    def op_slice_int(self, rng) -> None:
        run = self.run
        k = int(rng.integers(0, self.n))
        with run.op("slice_int") as op:
            got = run.call("frame", "slice", lambda: self.li.slice(k))
            op.expect("slice(int)", lambda: frames_match(
                pd.DataFrame([got.as_dict()]),
                self.pli.iloc[[k]], ordered=True))

    def op_slice_range(self, rng) -> None:
        run = self.run
        a = int(rng.integers(0, self.n - 100))
        cols = ["l_orderkey", "l_partkey", "l_extendedprice"]
        with run.op("slice_range") as op:
            f = run.call("frame", "slice",
                         lambda: self.li.slice(range(a, a + 100), cols))
            got = run.call("frame", "to_pandas", f.to_pandas)
            op.expect("slice(range)", lambda: frames_match(
                got, self.pli.iloc[a:a + 100][cols], ordered=True))

    def op_slice_mask(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        q = float(rng.integers(1, 50))
        flag = ["A", "N", "R"][int(rng.integers(0, 3))]
        with run.op("slice_mask") as op:
            mask = (F.col("l_quantity") < q) & (F.col("l_returnflag") == flag)
            f = run.call("frame", "slice",
                         lambda: self.li.slice(mask, ["l_orderkey", "l_quantity"]))
            got = run.call("frame", "nrow", lambda: f.nrow)
            op.expect("slice(mask)", lambda: got == int(
                ((self.pli.l_quantity < q) & (self.pli.l_returnflag == flag)).sum()))

    def op_slice_keys(self, rng) -> None:
        run = self.run
        pos = [int(x) for x in rng.choice(self.n, 20, replace=False)]
        cols = ["l_orderkey", "l_linenumber", "l_tax"]
        with run.op("slice_keys") as op:
            f = run.call("frame", "slice", lambda: self.li.slice(pos, cols))
            got = run.call("frame", "to_pandas", f.to_pandas)
            op.expect("slice(key list)", lambda: frames_match(
                got, self.pli.iloc[pos][cols], ordered=True))

    def op_count_rows(self, rng) -> None:
        run = self.run
        with run.op("count_rows") as op:
            got = run.call("frame", "count_rows", lambda: self.li.count_rows(
                ["l_discount", "l_tax"], lambda d, t: d > t))
            op.expect("count_rows", lambda: got == int(
                (self.pli.l_discount > self.pli.l_tax).sum()))

    def op_map_rows_add_columns(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        a = int(rng.integers(1, len(self.pord) - 200))
        with run.op("map_rows_add_columns") as op:
            col = run.call("frame", "map_rows", lambda: self.li.map_rows(
                ["l_extendedprice", "l_discount"], lambda p, d: p * (1 - d)))
            f = run.call("frame", "add_columns",
                         lambda: self.li.add_columns("rev", col))
            f = run.call("frame", "select", lambda: f.select(
                ["l_orderkey", "l_linenumber", "rev"]))
            f = run.call("frame", "filter", lambda: f.filter(
                F.col("l_orderkey").between(a, a + 199)))
            got = run.call("frame", "to_pandas", f.to_pandas)

            def check():
                p = self.pli[self.pli.l_orderkey.between(a, a + 199)]
                return frames_match(got, pd.DataFrame({
                    "l_orderkey": p.l_orderkey, "l_linenumber": p.l_linenumber,
                    "rev": p.l_extendedprice * (1 - p.l_discount)}), ordered=True)
            op.expect("map_rows + add_columns", check)

    def op_replace_column(self, rng) -> None:
        run = self.run
        t = float(rng.integers(10, 90))
        with run.op("replace_column") as op:
            f = run.call("frame", "replace_column", lambda: self.li.replace_column(
                "l_quantity", lambda q: q * 2))
            got = run.call("frame", "count_rows", lambda: f.count_rows(
                ["l_quantity"], lambda q: q > t))
            op.expect("replace_column", lambda: got == int(
                (self.pli.l_quantity * 2 > t).sum()))

    def op_column_summary(self, rng) -> None:
        run = self.run
        key = SUMMARY_KEYS[int(rng.integers(0, len(SUMMARY_KEYS)))]
        with run.op("column_summary") as op:
            got = run.call("summary", "column_summary",
                           lambda: self.li.column_summary(key))

            def check():
                want = self.pli[key].quantile([0, .25, .5, .75, 1]).to_numpy()
                q = got.quantiles
                return (q is not None and q.count == self.n and np.allclose(
                    [q.min, q.q25, q.q50, q.q75, q.max], want))
            op.expect("column_summary quantiles", check)

    def op_collect(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        a = int(rng.integers(1, len(self.pord) - 200))
        with run.op("collect") as op:
            f = run.call("frame", "filter", lambda: self.li.filter(
                F.col("l_orderkey").between(a, a + 199)))
            got = run.call("frame", "collect", f.collect)
            op.expect("collect", lambda: frames_match(
                pd.DataFrame(got, columns=LI_COLS),
                self.pli[self.pli.l_orderkey.between(a, a + 199)], ordered=True))

    def op_to_pandas(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        a = int(rng.integers(1, len(self.pord) - 500))
        with run.op("to_pandas") as op:
            f = run.call("frame", "filter", lambda: self.orders.filter(
                F.col("o_orderkey").between(a, a + 499)))
            got = run.call("frame", "to_pandas", f.to_pandas)
            op.expect("to_pandas", lambda: frames_match(
                got, self.pord[self.pord.o_orderkey.between(a, a + 499)],
                ordered=True))

    def op_group_agg(self, rng) -> None:
        from pyspark.sql import functions as F
        run = self.run
        d = float(rng.integers(0, 11)) / 100.0
        with run.op("group_agg") as op:
            f = run.call("frame", "filter", lambda: self.li.filter(
                F.col("l_discount") <= d))
            g = run.call("frame", "group_agg", lambda: f.group_agg(
                ["l_returnflag", "l_linestatus"],
                {"n": F.count(F.lit(1)), "qty": F.sum("l_quantity"),
                 "avg_price": F.avg("l_extendedprice")}))
            got = run.call("frame", "to_pandas", g.to_pandas)

            def check():
                p = self.pli[self.pli.l_discount <= d]
                return frames_match(got, p.groupby(["l_returnflag", "l_linestatus"])
                                    .agg(n=("l_quantity", "size"),
                                         qty=("l_quantity", "sum"),
                                         avg_price=("l_extendedprice", "mean"))
                                    .reset_index())
            op.expect("group_agg", check)

    def op_top_k(self, rng) -> None:
        from pyspark.sql import functions as F

        from cl_data_frame_spark.operators import relational
        run = self.run
        s = int(rng.integers(1, gen.N_SUPPLIERS + 1))
        by = [("l_extendedprice", "desc"), ("l_orderkey", "asc"),
              ("l_linenumber", "asc")]
        with run.op("top_k") as op:
            f = run.call("frame", "filter",
                         lambda: self.li.filter(F.col("l_suppkey") == s))
            t = run.call("operators.relational", "top_k",
                         lambda: relational.top_k(f, 20, by))
            got = run.call("frame", "to_pandas", t.to_pandas)
            op.expect("top_k", lambda: frames_match(
                got, self.pli[self.pli.l_suppkey == s].sort_values(
                    ["l_extendedprice", "l_orderkey", "l_linenumber"],
                    ascending=[False, True, True]).head(20), ordered=True))

    # -- per-layer metrics ------------------------------------------------------

    def layer_metrics(self) -> dict:
        run = self.run
        from stats import percentile
        out = {}
        by_name: dict[str, list[float]] = {}
        for op in run.ops:
            by_name.setdefault(op.name, []).append(op.latency_s * 1000.0)
        for name, lat in by_name.items():
            key = "summary.column_summary.p50_ms" if name == "column_summary" \
                else f"frame.{name}.p50_ms"
            out[key] = percentile(lat, 50)
        n_ops = max(len(run.ops), 1)
        out["frame.jobs_per_op"] = run.call_sum("frame.", "jobs") / n_ops
        out["frame.driver_ms_per_op"] = \
            run.call_sum("frame.", "driver_self_s") * 1000.0 / n_ops
        n_summary = max(len(run.calls.get("summary.column_summary", [])), 1)
        out["summary.jobs_per_call"] = run.call_sum("summary.", "jobs") / n_summary
        return out
