"""Output checks for the read workloads.

Each query's Spark result is compared with its DuckDB oracle using
``tools/check_oracle.py``'s own ``normalize``/``compare`` semantics.
The oracle side is computed once and cached in ``cache_dir``, keyed on
the oracle SQL plus ``tables.table_fingerprint`` of every input table,
so a rewritten dataset or an edited oracle never reuses a stale result.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from cs686_big_data_p1_spark.tables import table_fingerprint
from tools.check_oracle import TABLES, compare, duck_con


class OracleCache:
    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None
        self._stamp = repr([table_fingerprint(data_dir, t) for t in TABLES])
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((sql + "\0" + self._stamp).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key[:24]}.pkl")
        if os.path.exists(path):
            # written by this class only, inside the benchmark's own tree
            return pd.read_pickle(path)
        if self._con is None:
            self._con = duck_con(self.data_dir)
        odf = self._con.execute(sql).fetchdf()
        tmp = f"{path}.{os.getpid()}.tmp"
        odf.to_pickle(tmp)
        os.replace(tmp, path)
        return odf

    def problems(self, name: str, sql: str, sdf: pd.DataFrame) -> list[str]:
        return compare(name, sdf, self.expected(sql))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
