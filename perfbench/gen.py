"""Seeded event generator for the stream workloads, and its truth.

Each backlog file holds ``rows_per_file`` events ``(user_id, value)``.  The
key ``user_id % N_KEYS`` follows a bounded Zipf law (exponent ``ZIPF_S``)
over ``N_KEYS`` keys, drawn by inverting the continuous power-law CDF and
flooring to a rank; a seeded permutation decides which key ids are hot.
``user_id`` carries a random multiple of ``N_KEYS`` on top of the key, so
the pipeline's map step (``k = user_id % N_KEYS``) does real work.  Values
are small integers, so every per-key sum is exact in a double and in a
BIGINT and the truth compares bit for bit.

File ``i`` depends only on ``(seed, i)``: the truth for any prefix of the
backlog (``Truth``) is recomputed from the seed, never read back from the
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_KEYS = 1_000_000
ZIPF_S = 1.1
MAX_VALUE = 1000
# Backlog files get strictly increasing modification times, so the file
# source (which orders new files by modification time) drains them in index
# order and a drained prefix is always files 0..n-1.
_MTIME_BASE = 1_600_000_000


class Generator:
    """Draws backlog files for one seed."""

    def __init__(self, seed: int, rows_per_file: int):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self._key_of_rank = np.random.default_rng([seed, N_KEYS]).permutation(N_KEYS)

    def file(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """``(user_id, value)`` of backlog file ``i``."""
        rng = np.random.default_rng([self.seed, i])
        # rank r in [1, N_KEYS] with density ~ r^-s: x = (1 + u((N+1)^(1-s) - 1))^(1/(1-s))
        a = 1.0 - ZIPF_S
        x = (1.0 + rng.random(self.rows_per_file) * ((N_KEYS + 1.0) ** a - 1.0)) ** (1.0 / a)
        rank = np.minimum(x.astype(np.int64), N_KEYS)
        key = self._key_of_rank[rank - 1]
        salt = rng.integers(0, 1 << 20, self.rows_per_file, dtype=np.int64)
        value = rng.integers(0, MAX_VALUE, self.rows_per_file, dtype=np.int64)
        return salt * N_KEYS + key, value

    def write(self, out_dir: str, n_files: int) -> None:
        """Write files ``0..n_files-1`` as parquet into ``out_dir``."""
        os.makedirs(out_dir, exist_ok=True)
        for i in range(n_files):
            user_id, value = self.file(i)
            path = os.path.join(out_dir, f"part-{i:05d}.parquet")
            pq.write_table(pa.table({"user_id": user_id, "value": value}), path, compression="none")
            os.utime(path, (_MTIME_BASE + i, _MTIME_BASE + i))


class Truth:
    """Running per-key ``(count, sum)``, indexed by key, over a backlog's
    files taken in order."""

    def __init__(self, gen: Generator):
        self.gen = gen
        self.count = np.zeros(N_KEYS, dtype=np.int64)
        self.total = np.zeros(N_KEYS, dtype=np.int64)
        self.files = 0

    def advance(self, n_files: int) -> np.ndarray:
        """Add the next ``n_files`` files; return the keys they touch, sorted."""
        drawn = [self.gen.file(i) for i in range(self.files, self.files + n_files)]
        self.files += n_files
        if not drawn:
            return np.zeros(0, dtype=np.int64)
        key = np.concatenate([u for u, _ in drawn]) % N_KEYS
        value = np.concatenate([v for _, v in drawn])
        n = np.bincount(key, minlength=N_KEYS)
        self.count += n
        self.total += np.bincount(key, weights=value, minlength=N_KEYS).astype(np.int64)
        return np.flatnonzero(n)
