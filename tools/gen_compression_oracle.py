"""Regenerate the literal per-SF oracle for q_compression_ratio.

The corpus text is not SF-stable (each sf dir has its own documents), so
the only hashable oracle for the zlib path is a LOOKUP TABLE: the decile
histogram of level-6 deflate ratios computed independently of the engine
(pyarrow + the stdlib zlib — no Spark, no DuckDB) for every testdata SF,
keyed in SQL by the corpus row count. Re-run this tool and paste its
output into queries_text.py::_COMPRESSION_ORACLE whenever the fixture
or the container's zlib build changes; tools/check_oracle.py fails loudly
if the literals drift.

The histogram mirrors operators/textops.py::compression_ratio exactly:
utf-8 encode, zlib.compress(level=6), ratio = round(comp/raw, 6),
bucket = floor(ratio*10)/10; null/empty text excluded (null bucket).
"""

from __future__ import annotations

import glob
import math
import zlib

import pyarrow.parquet as pq


def histogram(path: str) -> tuple[int, dict[float, tuple[int, int]]]:
    tbl = pq.read_table(path, columns=["text"])
    texts = tbl.column("text").to_pylist()
    # the SF key: total CHAR count (Python len == DuckDB length(), both
    # code points) — the doc count alone does not discriminate
    # sf0.001 from sf0.01 (both 500 docs)
    n_chars = sum(len(t) for t in texts if t is not None)
    buckets: dict[float, tuple[int, int]] = {}
    for t in texts:
        if t is None:
            continue
        b = t.encode("utf-8")
        if not b:
            continue
        ratio = round(len(zlib.compress(b, 6)) / len(b), 6)
        key = math.floor(ratio * 10) / 10
        n, s = buckets.get(key, (0, 0))
        buckets[key] = (n + 1, s + len(b))
    return n_chars, buckets


def main() -> None:
    arms = []
    for d in sorted(glob.glob("/root/testdata/sf*/")):
        n_chars, buckets = histogram(d + "documents.parquet")
        rows = ", ".join(
            f"({k}e0, {n}, {s})" for k, (n, s) in sorted(buckets.items())
        )
        arms.append((n_chars, rows))
        print(f"-- {d}: {n_chars} total chars, {len(buckets)} buckets")
    print()
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT * FROM (VALUES {rows})
      t(ratio_bucket, n_docs, sum_raw_bytes)
    WHERE (SELECT SUM(length(text)) FROM documents) = {n_chars}"""
        for n_chars, rows in arms
    )
    print(f'''_COMPRESSION_ORACLE = """
    SELECT ratio_bucket, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_raw_bytes AS BIGINT) AS sum_raw_bytes
    FROM (
{selects}
    )
"""''')


if __name__ == "__main__":
    main()
