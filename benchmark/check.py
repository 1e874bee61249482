"""Output checks, all run outside the timed region.

Every timed call ends in a digest sink: (rows, sum of row hashes & 2^31-1,
xor of row hashes), with the row hash Spark's own xxhash64 over the output
columns.  The reference pass collects each call's rows together with the
same per-row hash, so the timed digests are compared with it, and the
collected rows are compared bit-exactly with the DuckDB oracles of
``spatialgraft.oracles``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK = 0x7FFFFFFF


def digest_sink(df: DataFrame) -> tuple[int, int, int]:
    """One aggregate action over every output row and column."""
    h = F.xxhash64(*df.columns)
    r = df.agg(F.count(F.lit(1)),
               F.sum(h.bitwiseAND(F.lit(_MASK).cast("long"))),
               F.bit_xor(h)).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def reference_sink(df: DataFrame) -> tuple[tuple[int, int, int], pa.Table]:
    """Collect the rows and their Spark row hashes; return the digest the
    digest sink would give, and the rows."""
    t = df.select(*df.columns,
                  F.xxhash64(*df.columns).alias("_h")).toArrow()
    h = t.column("_h").to_numpy()
    digest = (t.num_rows, int((h & _MASK).sum()),
              int(np.bitwise_xor.reduce(h)) if len(h) else 0)
    return digest, t.drop_columns(["_h"])


def oracle_digest(spark, orc: "Oracles", key: str, like: DataFrame
                  ) -> tuple[int, int, int]:
    """The digest sink over the oracle's rows, cast to the engine output's
    columns and types: equal to the engine's digest iff the rows are."""
    rows = spark.createDataFrame(orc.rows(key))
    return digest_sink(rows.select(
        *[F.col(f.name).cast(f.dataType) for f in like.schema.fields]))


def _sorted(t: pa.Table, cols: list[str]) -> list[np.ndarray]:
    t = t.select(cols).sort_by([(c, "ascending") for c in cols])
    return [t.column(c).to_numpy() for c in cols]


def same_rows(got: pa.Table, want: pa.Table) -> str | None:
    """None when both hold the same multiset of rows (bit-exact values,
    column order ignored); else a one-line reason."""
    cols = sorted(got.column_names)
    if sorted(want.column_names) != cols:
        return f"columns {cols} != {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != oracle {want.num_rows}"
    for c, g, w in zip(cols, _sorted(got, cols), _sorted(want, cols)):
        if not np.array_equal(g, w):
            return f"column {c} differs from the oracle"
    return None


def sample_rows(t: pa.Table, id_col: str, mod: int) -> pa.Table:
    """Rows whose id is a multiple of mod (mod a power of two)."""
    return t.filter(pc.equal(pc.bit_wise_and(t.column(id_col), mod - 1), 0))


def knn_rows_per_query(t: pa.Table, k: int, n_candidates: int,
                       n_queries: int) -> str | None:
    """Every query gets exactly min(k, n) rows, ranked 1..min(k, n)."""
    want = min(k, n_candidates)
    qid = t.column("qid").to_numpy()
    _, per_q = np.unique(qid, return_counts=True)
    if len(per_q) != n_queries:
        return f"{len(per_q)} queries answered, {n_queries} asked"
    if per_q.min() != want or per_q.max() != want:
        return (f"rows per query in [{per_q.min()}, {per_q.max()}], "
                f"want {want}")
    rnk = t.column("rnk").to_numpy()
    if rnk.min() != 1 or rnk.max() != want:
        return f"ranks span [{rnk.min()}, {rnk.max()}], want [1, {want}]"
    return None


class Oracles:
    """DuckDB over the generated parquet, limited to `threads` threads."""

    def __init__(self, sf_dir: str, threads: int):
        import duckdb

        from spatialgraft import oracles
        from spatialgraft.config import DEFAULT_K

        self.sf = sf_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        self.con.execute(f"SET temp_directory='{sf_dir}/duckdb_tmp'")
        self.sql = {**oracles.all_oracles(k=DEFAULT_K),
                    **oracles.misc_oracles(),
                    **oracles.extension_oracles(k_st=5),
                    "knn_k150": oracles.all_oracles(k=150)["knn_join"]}

    def _views(self, sample: tuple[str, str, int] | None) -> None:
        for t in ("lineitem", "part", "orders"):
            where = ""
            if sample is not None and sample[0] == t:
                where = f" WHERE {sample[1]} % {sample[2]} = 0"
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * "
                             f"FROM '{self.sf}/{t}.parquet'{where}")

    def rows(self, key: str,
             sample: tuple[str, str, int] | None = None) -> pa.Table:
        self._views(sample)
        return self.con.execute(self.sql[key]).fetch_arrow_table()

    def scalar(self, expr: str, key: str) -> int:
        """One aggregate over an oracle's rows, e.g. scalar('sum(cnt)',
        'range_join_count')."""
        self._views(None)
        return int(self.con.execute(
            f"SELECT {expr} FROM ({self.sql[key]}) o").fetchone()[0] or 0)

    def close(self) -> None:
        self.con.close()
