"""Output checks for benchmark runs.

Registry calls are compared with their DuckDB oracle (SparkEntry.oracleSql)
the way tools/check_oracle.py compares: columns sorted by name, rows
sorted by every column, then cell by cell. One rule is added, and it
applies to every query alike:

  ROUNDING-BOUNDARY RULE. Two doubles that differ are still equal when
  both are printed exactly with d decimals (d the larger of their two
  decimal counts, 4 <= d <= 9) and they differ by at most one unit in
  that last place, 10^-d. Two engines that round the same real number to
  d decimals may land on either side of a rounding boundary; any larger
  difference, or any difference in an unrounded value, still fails.

Kernel cells (agg_kernel) are compared with DuckDB over the very input
the run generated, joined on the cell's key columns: long and decimal
columns must match exactly; double columns match within a relative
tolerance of 1e-9 (absolute below 1), with NULL and NaN both read as
missing.

Oracle results are computed once and cached, keyed by the SHA-256 of the
oracle SQL text and a fingerprint of the data directory (table file
names and sizes). Results shipped with the benchmark live in
perfbench/oracle; results computed during a run go to
.bench_build/oracle and are reused by later runs in the same checkout.
"""
import hashlib
import json
import math
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
REL_TOL = 1e-9


def data_fingerprint(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.is_file():
            h.update(f"{p.name}:{p.stat().st_size};".encode())
    return h.hexdigest()[:16]


def _connect_tables(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class OracleCache:
    """Oracle results keyed by (SQL text hash, data fingerprint)."""

    def __init__(self, root, data_dir):
        self.data_dir = data_dir
        self.fp = data_fingerprint(data_dir)
        self.shipped = HERE / "oracle"
        self.local = Path(root) / ".bench_build" / "oracle"
        self.con = None

    def key(self, sql):
        return hashlib.sha256(sql.encode()).hexdigest()[:16] + "-" + self.fp

    def path(self, sql):
        name = self.key(sql) + ".parquet"
        for d in (self.shipped, self.local):
            if (d / name).is_file():
                return d / name
        self.local.mkdir(parents=True, exist_ok=True)
        if self.con is None:
            self.con = _connect_tables(self.data_dir)
        tmp = self.local / (name + ".tmp")
        self.con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        tmp.rename(self.local / name)
        return self.local / name


def _decimals(x):
    for d in range(13):
        if round(x, d) == x:
            return d
    return 99


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b:
            return True
        if math.isinf(a) or math.isinf(b) or math.isnan(a) or math.isnan(b):
            return False
        d = max(_decimals(a), _decimals(b))
        return 4 <= d <= 9 and abs(a - b) <= 10.0 ** -d * (1 + 1e-6)
    return a == b


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare_registry(con, got_dir, oracle_file):
    """None when equal, else a one-line reason."""
    got = _norm(con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df())
    want = _norm(con.sql(f"SELECT * FROM '{oracle_file}'").df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not cells_equal(a, b):
                return f"first bad cell row {i} col {c}: {a!r} != {b!r}"
    return None


# ---- kernel cells: (key columns, reference SQL over the input t) ----

def _bins_sql():
    edges = (0.0, 50.0, 200.0, 500.0, 900.0, 1000.0)
    cases = " ".join(f"WHEN v_dbl > {lo} AND v_dbl <= {hi} THEN {i}"
                     for i, (lo, hi) in enumerate(zip(edges, edges[1:])))
    vals = ", ".join(f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(zip(edges, edges[1:])))
    return (f"SELECT e.b, e.b_lo, e.b_hi, coalesce(r.n, 0) AS n, coalesce(r.s, 0) AS s"
            f" FROM (VALUES {vals}) e(b, b_lo, b_hi) LEFT JOIN"
            f" (SELECT CASE {cases} END AS b, count(v_long) AS n, sum(v_long) AS s"
            f" FROM t GROUP BY 1) r ON r.b = e.b")


def _sum_sql(k):
    return f"SELECT {k}, sum(v_long) AS s, count(v_long) AS n FROM t GROUP BY 1"


# the engine's var/std finalize (the clamped power-sum expression its own
# q_var/q_std oracles replay), ddof = 1
_VAR = ("CASE WHEN count(v_dbl) > 1 THEN greatest((sum(v_dbl * v_dbl) - sum(v_dbl) * sum(v_dbl)"
        " / CAST(count(v_dbl) AS DOUBLE)) / (CAST(count(v_dbl) AS DOUBLE) - 1), 0.0) END")
_ROWS = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _fingerprint(expr):
    """A scan cell's per-group fingerprint (AggKernel.fingerprint)."""
    return ("SELECT kz, count(*) AS n, count(o) AS n_v, sum(o) AS s,"
            " sum(CASE WHEN pos % 7 = 0 THEN o END) AS s7"
            f" FROM (SELECT kz, pos, {expr} OVER (PARTITION BY kz ORDER BY pos {_ROWS}) AS o"
            " FROM t) GROUP BY 1")


_CUMSUM = _fingerprint("sum(v_dec)")
_COV = ("WITH a AS (SELECT k600, count(v_dec) AS n_pairs,"
        " CAST(sum(v_dec) AS DOUBLE) AS sx, CAST(sum(v_dec2) AS DOUBLE) AS sy,"
        " CAST(sum(v_dec * v_dec2) AS DOUBLE) AS sxy,"
        " CAST(sum(v_dec * v_dec) AS DOUBLE) AS sxx,"
        " CAST(sum(v_dec2 * v_dec2) AS DOUBLE) AS syy FROM t GROUP BY 1),"
        " f AS (SELECT k600, n_pairs,"
        " CASE WHEN n_pairs > 1 THEN (sxy - sx * sy / n_pairs) / (n_pairs - 1.0) END AS cov,"
        " CASE WHEN n_pairs > 1 THEN greatest((sxx - sx * sx / n_pairs) / (n_pairs - 1.0), 0.0) END AS vx,"
        " CASE WHEN n_pairs > 1 THEN greatest((syy - sy * sy / n_pairs) / (n_pairs - 1.0), 0.0) END AS vy"
        " FROM a)"
        " SELECT k600, n_pairs, cov,"
        " CASE WHEN vx > 0 AND vy > 0 THEN cov / sqrt(vx * vy) END AS corr FROM f")

KERNEL = {
    "sum_k600": (["k600"], _sum_sql("k600")),
    "sum_k1m": (["k1m"], _sum_sql("k1m")),
    "sum_k1m_sorted": (["k1m"], _sum_sql("k1m")),
    "var_zipf": (["kz"], f"SELECT kz, sum(v_dbl) / count(v_dbl) AS m, {_VAR} AS var, sqrt({_VAR}) AS sd"
                 " FROM t GROUP BY 1"),
    "mean_dec_k10k": (["kz"], "SELECT kz, avg(v_dec) AS m FROM t GROUP BY 1"),
    "median_k600": (["k600"], "SELECT k600, quantile_cont(v_dbl, 0.5) AS med FROM t GROUP BY 1"),
    "quantile_zipf": (["kz"], "SELECT kz, quantile_cont(v_dbl, 0.25) AS q25,"
                      " quantile_cont(v_dbl, 0.5) AS q50, quantile_cont(v_dbl, 0.9) AS q90"
                      " FROM t GROUP BY 1"),
    "mode_k10k": (["kz"], "SELECT kz, min(v) AS mo FROM (SELECT kz, v, c, max(c) OVER (PARTITION BY kz) AS mx"
                  " FROM (SELECT kz, v_small AS v, count(*) AS c FROM t GROUP BY 1, 2))"
                  " WHERE c = mx GROUP BY 1"),
    "topk_k600": (["k600", "rank"], "SELECT k600, rank, pos, v FROM (SELECT k600, row_number() OVER"
                  " (PARTITION BY k600 ORDER BY v_dbl DESC, pos) AS rank, pos, v_dbl AS v FROM t)"
                  " WHERE rank <= 5"),
    "argmax_k10k": (["kz"], "SELECT kz, min(CASE WHEN v_dbl = mx THEN pos END) AS am FROM"
                    " (SELECT kz, pos, v_dbl, max(v_dbl) OVER (PARTITION BY kz) AS mx FROM t)"
                    " GROUP BY 1"),
    "cumsum_zipf": (["kz"], _CUMSUM),
    "cumsum_chunked_zipf": (["kz"], _CUMSUM),
    "ffill_zipf": (["kz"], _fingerprint("last_value(v_gap IGNORE NULLS)")),
    "bins_expected": (["b"], _bins_sql()),
    "covcorr_dec_k600": (["k600"], _COV),
}


class KernelChecker:
    """Reference results for every cell, computed once per run over the
    run's own input, then compared with each pass's output in DuckDB."""

    def __init__(self, input_dir):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM '{input_dir}/*.parquet'")
        self.refs = {}

    def _ref(self, cell):
        if cell not in self.refs:
            name = f"ref_{cell}"
            self.con.execute(f"CREATE TABLE {name} AS {KERNEL[cell][1]}")
            self.refs[cell] = name
        return self.refs[cell]

    def compare(self, cell, got_dir):
        keys = KERNEL[cell][0]
        ref = self._ref(cell)
        types = dict(self.con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {ref})")
                     .fetchall())
        dbl = [c for c, t in types.items() if t == "DOUBLE"]
        exact = [c for c in types if c not in keys and c not in dbl]
        got_cols = self.con.sql(
            f"SELECT * FROM read_csv('{got_dir}/part.csv', header = true, all_varchar = true)"
            " LIMIT 0").columns
        if sorted(got_cols) != sorted(types):
            return f"columns {sorted(got_cols)} != {sorted(types)}"
        got = ("(SELECT " + ", ".join(f"CAST({c} AS {types[c]}) AS {c}" for c in got_cols)
               + f" FROM read_csv('{got_dir}/part.csv', header = true, all_varchar = true))")
        on = " AND ".join(f"g.{k} = r.{k}" for k in keys)
        missing = " OR ".join(f"g.{k} IS NULL OR r.{k} IS NULL" for k in keys)
        conds = [f"g.{c} IS NOT DISTINCT FROM r.{c}" for c in exact]
        for c in dbl:
            g, r = f"CAST(g.{c} AS DOUBLE)", f"CAST(r.{c} AS DOUBLE)"
            conds.append(f"((({g} IS NULL OR isnan({g})) AND ({r} IS NULL OR isnan({r})))"
                         f" OR abs({g} - {r}) <= {REL_TOL} * greatest(1.0, abs({r})))")
        ok = " AND ".join(conds) if conds else "TRUE"
        bad, first = self.con.execute(
            f"SELECT count(*), any_value(coalesce(CAST(r.{keys[0]} AS VARCHAR), CAST(g.{keys[0]} AS VARCHAR)))"
            f" FROM {got} g FULL OUTER JOIN {ref} r ON {on}"
            f" WHERE {missing} OR NOT coalesce({ok}, FALSE)").fetchone()
        return None if bad == 0 else f"{bad} rows differ (e.g. {keys[0]}={first})"


def check_run(workload, harness, out, data_dir, root):
    """Map each dump directory to None (correct) or a failure reason."""
    dumps = sorted({c["dump"] for c in harness["calls"] if c["ok"] and c["dump"]})
    if workload == "agg_kernel":
        kc = KernelChecker(out / "input")
        compare = lambda name, d: kc.compare(name, out / d)  # noqa: E731
    else:
        oracle_sql = json.loads((out / "oracle_sql.json").read_text())
        cache = OracleCache(root, data_dir)
        con = duckdb.connect()
        compare = lambda name, d: compare_registry(  # noqa: E731
            con, out / d, cache.path(oracle_sql[name]))
    verdict = {}
    for d in dumps:
        try:
            verdict[d] = compare(d.split("/")[1], d)
        except Exception as e:  # a reference or read error fails the call, never the run
            verdict[d] = f"check error: {str(e).splitlines()[0][:200]}"
    return verdict
