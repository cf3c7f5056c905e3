"""Seeded ingest files for the benchmark.

``write_ingest_files`` writes the ingest ops' CSV and JSONL files under the
run's own work directory. Quoted commas, empty cells and a nested JSON field
exercise the reader paths; the generator returns the expected row count and
``amount`` sum so the loaded table can be checked without trusting the
engine. Everything is a pure function of the seed.

The catalog tables come from the repository's reference test data
(``bench.SF_DIR``).
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pandas as pd

INGEST_TYPES = {
    "qty": "BIGINT",
    "amount": "DECIMAL(12,2)",
    "score": "INT",
    "day": "DATE",
}


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]")


def write_ingest_files(out_dir: str, seed: int, rows: dict[str, int]) -> dict:
    """Write the ingest workload's files; return {fmt: {path, rows, amount}}.

    ``fmt`` is ``"csv"`` or ``"jsonl"``. ``amount`` is the exact sum of the
    file's ``amount`` column as a ``Decimal``, computed from the generator's
    integer cents.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for fmt, n in rows.items():
        cents = rng.integers(0, 10_000_000, n)  # amount < 10^5, 2 places
        df = pd.DataFrame({
            "qty": rng.integers(0, 1_000_000_000_000, n),
            "amount": [f"{v // 100}.{v % 100:02d}" for v in cents.tolist()],
            "score": rng.integers(-1000, 1000, n),
            "day": _days(rng, n, "2000-01-01", "2029-12-31").astype(str),
            "city": rng.choice(["Pune", "Oslo, NO", "Lima", "Austin, TX", "Kyoto"], n),
            "note": rng.choice(["ok", "", "late", "", "review"], n),
        })
        path = os.path.join(out_dir, f"sales_{fmt}.{fmt}")
        if fmt == "jsonl":
            # nested field: the reader stringifies struct columns
            df["meta"] = [
                {"note": note, "rank": i % 7} for i, note in enumerate(df.pop("note"))
            ]
            df.to_json(path, orient="records", lines=True)
        else:
            df.to_csv(path, index=False)
        out[fmt] = {
            "path": path,
            "rows": n,
            "amount": Decimal(int(cents.sum())) / 100,
            "bytes": os.path.getsize(path),
        }
    return out
