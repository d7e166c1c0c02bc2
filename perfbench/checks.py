"""Output checks, run outside the timed window.

``oracle_problem`` compares a Spark result (already pulled with
``toPandas()``) with the op's DuckDB oracle the way
``carpet_spark.testing.compare`` does on its primary, pandas-materialized
path: same lower-cased column set, same row count, and the same multiset
of rows after every cell goes through ``testing.canon_pd_cell``, with the
columns ordered by lower-cased name.  It hashes the canonical rows in
bulk instead of building a ``Counter`` of tuples, and int, float and bool
columns take a vectorized path that encodes exactly what
``canon_pd_cell`` distinguishes, so a result of 10^5 rows checks in well
under a second.
``compare``'s secondary native-type pass (a second ``collect()`` through
Py4J) is not repeated.

``redact_problem`` checks one ``carpet_spark.cli`` output against its input
with DuckDB: equal row count, no dropped column left under any casing,
nullified columns all NULL, and hash / mask / bucket values equal to a
DuckDB recomputation.
"""

from __future__ import annotations

import glob

import duckdb
import numpy as np
import pandas as pd

from carpet_spark.testing import canon_pd_cell


def _encode(col: pd.Series) -> pd.Series:
    """One canonical string (or None) per cell; equal strings <=> equal
    ``canon_pd_cell`` values."""
    kind = col.dtype.kind
    if kind in "iu":
        return "i" + col.astype(str)
    if kind == "f":
        bits = col.to_numpy(dtype=np.float64).view(np.int64)
        enc = pd.Series(["f" + str(b) for b in bits.tolist()], index=col.index, dtype=object)
        return enc.where(col.notna(), None)
    if kind == "b":
        return "b" + col.astype(str)

    def one(v):
        c = canon_pd_cell(v)
        if c is None:
            return None
        if c[0] == "i":
            return f"i{c[1]}"
        if c[0] == "f":
            return "f" + str(np.float64(float(c[1])).view(np.int64))
        if c[0] == "b":
            return f"b{c[1]}"
        return repr(c)

    return col.astype(object).map(one)


def frame_digest(pdf: pd.DataFrame) -> np.ndarray:
    """Sorted 64-bit hashes of the canonical rows (columns by lower name)."""
    cols = sorted(pdf.columns, key=str.lower)
    enc = pd.DataFrame({i: _encode(pdf[c]) for i, c in enumerate(cols)})
    return np.sort(pd.util.hash_pandas_object(enc, index=False).to_numpy())


def oracle_problem(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    """None when the two results match, else a one-line reason."""
    s_cols = sorted(c.lower() for c in spark_pdf.columns)
    d_cols = sorted(c.lower() for c in duck_pdf.columns)
    if s_cols != d_cols:
        return f"column mismatch: spark={s_cols} duck={d_cols}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    diff = int((frame_digest(spark_pdf) != frame_digest(duck_pdf)).sum())
    return f"value mismatch in {diff} sorted row hashes" if diff else None


def redact_problem(src: str, out_dir: str, cfg: dict) -> str | None:
    """None when ``out_dir`` is a correct redaction of ``src`` under
    ``cfg`` (keys drop, nullify, hash, hash_salt, mask, mask_pattern,
    mask_replacement, bucket, bucket_width; column names compared
    case-insensitively), else a one-line reason."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{src}')")
        files = sorted(glob.glob(f"{out_dir}/*.parquet"))
        if not files:
            return "no output files"
        con.execute(f"CREATE VIEW out AS SELECT * FROM read_parquet({files!r})")
        src_cols = [r[0] for r in con.execute("DESCRIBE src").fetchall()]
        out_cols = {r[0].lower(): r[0] for r in con.execute("DESCRIBE out").fetchall()}
        n_src, n_out = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("src", "out"))
        if n_src != n_out:
            return f"row count {n_out} != {n_src}"
        drop = {c.lower() for c in cfg["drop"]}
        leaked = sorted(out_cols[c] for c in drop if c in out_cols)
        if leaked:
            return f"dropped column(s) survived: {leaked}"
        want = sorted(c.lower() for c in src_cols if c.lower() not in drop)
        if sorted(out_cols) != want:
            return f"columns {sorted(out_cols)} != {want}"

        def expected(c: str) -> str:
            q, low = f'"{c}"', c.lower()
            if low in {x.lower() for x in cfg["nullify"]}:
                return "CAST(NULL AS VARCHAR)"
            if low in {x.lower() for x in cfg["hash"]}:
                salt = cfg["hash_salt"].replace("'", "''")
                return f"sha256('{salt}' || CAST({q} AS VARCHAR))"
            if low in {x.lower() for x in cfg["mask"]}:
                return (f"regexp_replace({q}, '{cfg['mask_pattern']}', "
                        f"'{cfg['mask_replacement']}', 'g')")
            if low in {x.lower() for x in cfg["bucket"]}:
                return f"CAST(floor({q} / {float(cfg['bucket_width'])}) AS BIGINT)"
            return q

        kept = [c for c in src_cols if c.lower() not in drop]
        exp = ", ".join(f"CAST({expected(c)} AS VARCHAR) AS c{i}" for i, c in enumerate(kept))
        got = ", ".join(f'CAST("{out_cols[c.lower()]}" AS VARCHAR) AS c{i}' for i, c in enumerate(kept))
        bad = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {exp} FROM src EXCEPT ALL SELECT {got} FROM out)) "
            f"+ (SELECT count(*) FROM (SELECT {got} FROM out EXCEPT ALL SELECT {exp} FROM src))"
        ).fetchone()[0]
        return f"{bad} rows differ from the DuckDB recomputation" if bad else None
    finally:
        con.close()
