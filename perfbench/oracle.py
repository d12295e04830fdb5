"""Output checks. Every result is reduced to an order-insensitive row
digest with ``tools/check_oracle.row_hashes`` (imported, not copied)
and compared with the digest of the oracle's answer:

- dialect SQL over parquet and the catalog entries: DuckDB over the
  same generated parquet files (the catalog's own ``oracle`` SQL);
- ``pandas_sql``: DuckDB over the same pandas frames;
- entries without an oracle (``dd_minhash_pairs``): every pair is
  re-verified with an exact shingle Jaccard, and the digest of that
  verified answer is recorded and required of every later run of it;
- IVF-PQ probes: every returned score is re-computed exactly, and the
  first answer per query vector is recorded likewise.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

from tools.check_oracle import row_hashes

# dd_minhash_pairs keeps pairs whose shingle Jaccard is at least this
MINHASH_THRESHOLD = 0.5


def digest(pdf: pd.DataFrame) -> str:
    """Row-multiset digest, columns in positional order."""
    h = np.sort(row_hashes(pdf, list(range(pdf.shape[1]))))
    return f"{pdf.shape[1]}:{len(pdf)}:" + hashlib.sha1(h.tobytes()).hexdigest()


def _names(cols) -> list[str]:
    return [str(c).lower() for c in cols]


class Oracle:
    """Caches one expected digest per operation name."""

    def __init__(self, parquet_dir: str | None = None, frames: dict | None = None) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.expected: dict[str, str] = {}
        self.expected_cols: dict[str, list[str]] = {}
        self.docs: pd.DataFrame | None = None
        self.vectors: np.ndarray | None = None
        if parquet_dir is not None:
            for f in sorted(os.listdir(parquet_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(parquet_dir, f)
                    self.con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                    )
        for name, frame in (frames or {}).items():
            self.con.register(name, frame)

    def close(self) -> None:
        self.con.close()

    # -- SQL oracles ------------------------------------------------------
    def check_sql(self, name: str, pdf: pd.DataFrame, duck_sql: str) -> bool:
        """Same rows as DuckDB's answer to ``duck_sql``, columns compared
        by position (unaliased expressions are named differently by the
        two engines)."""
        self._expect(name, duck_sql)
        return digest(pdf) == self.expected[name]

    def _expect(self, name: str, duck_sql: str) -> None:
        if name not in self.expected:
            ref = self.con.execute(duck_sql).df()
            self.expected[name] = digest(ref)
            self.expected_cols[name] = _names(ref.columns)

    def check_catalog_sql(self, name: str, pdf: pd.DataFrame, duck_sql: str) -> bool:
        """Catalog oracles: column order may differ, names must not."""
        cols = sorted(_names(pdf.columns))
        order = sorted(range(pdf.shape[1]), key=lambda i: _names(pdf.columns)[i])
        mine = pdf.iloc[:, order]
        if name not in self.expected:
            ref = self.con.execute(duck_sql).df()
            ref_order = sorted(range(ref.shape[1]), key=lambda i: _names(ref.columns)[i])
            self.expected[name] = digest(ref.iloc[:, ref_order])
            self.expected[name + "#cols"] = ",".join(sorted(_names(ref.columns)))
        return (
            digest(mine) == self.expected[name]
            and ",".join(cols) == self.expected[name + "#cols"]
        )

    def check_pandas_query(self, q, pdf: pd.DataFrame) -> bool:
        if q.columns is not None and tuple(pdf.columns) != q.columns:
            return False
        for col in q.volatile:
            if not _near_now(pdf[col]):
                return False
        stable = pdf.drop(columns=list(q.volatile))
        self._expect(q.name, q.duck)
        if q.columns is None and _names(stable.columns) != self.expected_cols[q.name]:
            return False
        return digest(stable) == self.expected[q.name]

    # -- recorded answers -------------------------------------------------
    def check_recorded(self, key: str, pdf: pd.DataFrame, verify) -> bool:
        """First answer is verified with ``verify`` and recorded; every
        later answer must have the recorded digest."""
        d = digest(pdf)
        if key not in self.expected:
            if not verify(pdf):
                return False
            self.expected[key] = d
        return d == self.expected[key]

    def verify_minhash_pairs(self, pdf: pd.DataFrame) -> bool:
        """Every pair is a real pair: id_a < id_b, and its rounded
        Jaccard over word 3-shingles is the exact one and meets the
        threshold."""
        shingles = _shingle_sets(self.docs)
        for a, b, j in pdf[["id_a", "id_b", "jaccard"]].itertuples(index=False):
            if not a < b:
                return False
            sa, sb = shingles[int(a)], shingles[int(b)]
            exact = len(sa & sb) / len(sa | sb)
            if abs(exact - float(j)) > 1e-4 or exact < MINHASH_THRESHOLD - 1e-9:
                return False
        return True

    def verify_probe(self, pdf: pd.DataFrame, query: np.ndarray, k: int) -> bool:
        """k distinct stored ids, scores are their exact cosine with the
        query, best first."""
        if len(pdf) != k or pdf["vec_id"].nunique() != k:
            return False
        ids = pdf["vec_id"].to_numpy()
        if ids.min() < 0 or ids.max() >= len(self.vectors):
            return False
        q = query / np.linalg.norm(query)
        vs = self.vectors[ids].astype(np.float64)
        exact = vs @ q / np.linalg.norm(vs, axis=1)
        scores = pdf["score"].to_numpy(dtype=np.float64)
        return bool(
            np.allclose(scores, exact, atol=1e-5) and np.all(np.diff(scores) <= 1e-12)
        )


def _shingle_sets(docs: pd.DataFrame) -> dict[int, frozenset]:
    out = {}
    for doc_id, text in docs[["doc_id", "text"]].itertuples(index=False):
        ws = text.strip().lower().split()
        grams = [" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))]
        out[int(doc_id)] = frozenset(grams)
    return out


def _near_now(col: pd.Series) -> bool:
    """Every cell is today's date / the current time (± one day)."""
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    for v in col:
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert(None)
        if pd.isna(ts) or abs((ts - pd.Timestamp(now)).total_seconds()) > 86_400 * 1.5:
            return False
    return True
