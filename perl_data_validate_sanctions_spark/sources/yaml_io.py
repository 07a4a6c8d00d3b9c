"""YAML dataset interop (reference S9/S11/S13): load/save the
reference's on-disk dataset format so an existing ``sanctions.yml``
(the shape ``{source: {updated, content: [entry, ...]}}`` written by
Data::Validate::Sanctions, /root/reference/lib/Data/Validate/Sanctions.pm:
321-352, 384-395) drops straight into this engine.

The file is a dimension (≤ a few 10^5 entries), so driver-side YAML
parsing is appropriate; the resulting DataFrame is what gets broadcast.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..schema import ENTRY_SCHEMA
from ..session import local_frame

_ARRAY_FIELDS = (
    "names", "dob_text", "place_of_birth", "residence", "nationality",
    "citizen", "postal_code", "national_id", "passport_no",
)


def load_yaml_dataset(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict[str, dict[str, Any]]]:
    """→ (entries_df, per-source meta {source: {updated, error?}})."""
    import yaml

    with open(path) as f:
        data = yaml.safe_load(f)

    rows = []
    meta: dict[str, dict[str, Any]] = {}
    eid = 0
    for source, block in (data or {}).items():
        block = block or {}
        meta[source] = {
            k: block.get(k) for k in ("updated", "error", "verified")
            if k in block
        }
        for entry in block.get("content") or []:
            row = [eid, source]
            names = [str(x) for x in entry.get("names") or []]
            row[2:] = [names]
            dob_epoch = entry.get("dob_epoch")
            row.append(
                [int(x) for x in dob_epoch] if dob_epoch else None
            )
            dob_year = entry.get("dob_year")
            row.append([int(x) for x in dob_year] if dob_year else None)
            for f in _ARRAY_FIELDS[1:]:
                v = entry.get(f)
                row.append([str(x) for x in v] if v else None)
            rows.append(tuple(row))
            eid += 1
    return local_frame(spark, rows, ENTRY_SCHEMA), meta


def save_yaml_dataset(
    entries: DataFrame, meta: dict[str, dict[str, Any]], path: str
) -> None:
    """Write the reference's YAML shape (atomic tmp+rename,
    Sanctions.pm:384-395)."""
    import os

    import yaml

    by_source: dict[str, list[dict]] = {}
    for r in entries.collect():
        d = r.asDict()
        d.pop("entry_id")
        source = d.pop("source")
        entry = {k: list(v) for k, v in d.items() if v is not None}
        by_source.setdefault(source, []).append(entry)
    doc = {
        s: {**meta.get(s, {}), "content": by_source.get(s, [])}
        for s in sorted(set(by_source) | set(meta))
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        yaml.safe_dump(doc, f, allow_unicode=True, sort_keys=True)
    os.rename(tmp, path)
