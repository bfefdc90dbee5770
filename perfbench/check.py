"""Correctness of a crawl run, read from the program's own output table.

* The output url set equals the accepted set, with no url twice.
* For a fixed url sample, every output field equals in-process
  ``extract_page`` on the capture dedup must keep, byte for byte.
* Statuses are counted from the output itself (all six), so failures
  are counted against attempts whatever the metrics table records.
"""

from __future__ import annotations

import collections
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("ok", "empty", "non_html", "pdf", "oversize", "parse_error")


def _naive_utc(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def _pylist(col: pa.ChunkedArray) -> list:
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us", tz=col.type.tz))
    return [_naive_utc(v) for v in col.to_pylist()]


def read_output(out_path: str) -> dict[str, list]:
    table = pq.read_table(out_path)
    return {name: _pylist(table.column(name)) for name in table.column_names}


def expected_row(url: str, ts, html: bytes) -> dict:
    from readembedability_spark.extractor import extract_page

    row = extract_page(url, html)
    row["warc_ts"] = ts
    return row


def _canon(field: str, v):
    if field == "confidences":
        return dict(v) if v is not None else None
    return _naive_utc(v)


def verify(corpus, out_path: str, expected: dict[str, dict]) -> dict:
    """Check one run's cumulative output. ``expected`` maps each sample
    url to its in-process row. Returns the status counts, the number of
    accepted urls missing from the output and every problem found."""
    out = read_output(out_path)
    urls = out["url"]
    problems = []
    dupes = [u for u, n in collections.Counter(urls).items() if n > 1]
    if dupes:
        problems.append(f"{len(dupes)} urls appear twice, e.g. {dupes[:3]}")
    got, want = set(urls), set(corpus.accepted)
    if got != want:
        problems.append(
            f"output url set differs: {len(want - got)} missing "
            f"{sorted(want - got)[:3]}, {len(got - want)} unexpected "
            f"{sorted(got - want)[:3]}"
        )
    index = {u: i for i, u in enumerate(urls)}
    for url, row in expected.items():
        if url not in index:
            continue
        i = index[url]
        for name, values in out.items():
            if name != "salt" and _canon(name, values[i]) != _canon(name, row[name]):
                problems.append(
                    f"{url}: field {name} differs: spark={values[i]!r:.200} "
                    f"in-process={row[name]!r:.200}"
                )
    counts = collections.Counter(out["status"])
    unknown = set(counts) - set(STATUSES)
    if unknown:
        problems.append(f"unknown statuses {unknown}")
    return {
        "status": {s: counts.get(s, 0) for s in STATUSES},
        "missing": len(want - got),
        "problems": problems,
    }
