"""Correctness of FIA outputs against the engine's independent DuckDB
re-implementation of the composed pipeline (the `q_fia_pipeline_oracle`
SQL, dumped by the harness with its raw-input reads left as
`read_parquet('@IN@/<TABLE>/*.parquet')`).

Outputs are compared as an order-independent hash: row count plus the
sum of a per-row hash over every oracle column, with both carbon
columns quantized to milli-units on both sides, as the oracle gate
does.
"""
import duckdb

TABLES = ["PLOT", "PLOTGEOM", "COND", "TREE"]
PLOT_KEY = "concat_ws('_', STATECD, UNITCD, COUNTYCD, PLOT)"
MILLI = {"drybio_milli": "DRYBIO_AG", "carbon_milli": "CARBON_AG"}
PARTITIONS = ("variant", "STATECD")


class Oracle:
    def __init__(self, sql_template: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        sql = sql_template
        for t in TABLES:
            sql = sql.replace(f"read_parquet('@IN@/{t}/*.parquet')", f"src_{t}")
        self.sql = sql
        self.cols = None

    def _raw(self, raw: str, upto, dirty_of=None):
        """Tables src_<T> from a raw dir; `upto` keeps rows of deliveries
        <= upto; `dirty_of` restricts them to the plots delivery
        `dirty_of` touches (PLOTGEOM follows the kept PLOT rows).

        The inputs are materialized, not views: with the restricting
        subqueries inlined into every use of them in the oracle SQL,
        DuckDB plans some deliveries into joins that exhaust its memory
        limit on a few hundred rows."""
        for t in TABLES:
            q = f"SELECT * FROM read_parquet('{raw}/{t}/*.parquet')"
            if upto is not None:
                q = f"SELECT * EXCLUDE (__dlv) FROM ({q}) WHERE __dlv <= {upto}"
            self.con.execute(f"CREATE OR REPLACE TEMP VIEW all_{t} AS {q}")
        if dirty_of is not None:
            self.con.execute(
                "CREATE OR REPLACE TEMP VIEW dirty AS SELECT DISTINCT "
                f"{PLOT_KEY} AS plot_ID FROM read_parquet('{raw}/PLOT/*.parquet') "
                f"WHERE __dlv = {dirty_of}")
        for t in TABLES:
            if dirty_of is None:
                q = f"SELECT * FROM all_{t}"
            elif t == "PLOTGEOM":
                q = "SELECT * FROM all_PLOTGEOM WHERE CN IN (SELECT CN FROM src_PLOT)"
            else:
                q = f"SELECT * FROM all_{t} WHERE {PLOT_KEY} IN (SELECT plot_ID FROM dirty)"
            self.con.execute(f"CREATE OR REPLACE TEMP TABLE src_{t} AS {q}")

    def _columns(self):
        if self.cols is None:
            rel = self.con.sql(self.sql)
            self.cols = list(zip(rel.columns, [str(t) for t in rel.types]))
        return self.cols

    def _digest(self, rel_sql: str, where: str = "") -> tuple:
        cols = ", ".join(f'"{c}"' for c, _ in self._columns())
        q = (f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
             f"FROM ({rel_sql}) {where}")
        n, h = self.con.execute(q).fetchone()
        return int(n), int(h)

    def _output(self, out: str) -> str:
        """A written output, cast to the oracle's column types."""
        sel = []
        for c, t in self._columns():
            if c in PARTITIONS:
                # Spark writes a NULL partition value as this directory name
                sel.append(f"CAST(nullif(\"{c}\", '__HIVE_DEFAULT_PARTITION__') AS {t}) AS \"{c}\"")
            elif c in MILLI:
                x = MILLI[c]
                sel.append(f"CASE WHEN isnan({x}) OR NOT isfinite({x}) THEN NULL "
                           f"ELSE CAST(floor({x} * 1000.0) AS BIGINT) END AS {c}")
            else:
                sel.append(f'CAST("{c}" AS {t}) AS "{c}"')
        return (f"SELECT {', '.join(sel)} FROM read_parquet('{out}/**/*.parquet', "
                "hive_partitioning = true)")

    def full(self, raw: str, out: str, upto=None) -> str:
        """'' when `out` equals the oracle over the raw tables."""
        self._raw(raw, upto)
        want, got = self._digest(self.sql), self._digest(self._output(out))
        return "" if want == got else f"oracle {want} != output {got}"

    def delivery(self, raw: str, upto: int, prev: str, out: str) -> str:
        """'' when `out` keeps `prev` on untouched plots and equals the
        oracle on the plots delivery `upto` touched. With `prev` equal to
        the oracle over the earlier raw tables (checked before), this is
        `out` == oracle over the raw tables after the delivery, because
        the pipeline and its oracle are plot-local."""
        self._raw(raw, upto, dirty_of=upto)
        keep = "WHERE plot_ID NOT IN (SELECT plot_ID FROM dirty)"
        kept_prev = self._digest(self._output(prev), keep)
        kept_out = self._digest(self._output(out), keep)
        if kept_prev != kept_out:
            return f"untouched plots changed: {kept_prev} -> {kept_out}"
        want = self._digest(self.sql)
        got = self._digest(self._output(out), "WHERE plot_ID IN (SELECT plot_ID FROM dirty)")
        return "" if want == got else f"dirty plots: oracle {want} != output {got}"
