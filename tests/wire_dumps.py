"""Shared writers of the reference's wire format for tests: CSV rows,
dump ZIPs (plain, or holding a nested ZIP) and a landing dir staged the
way the stager lays it out (`dt=YYYY-MM-DD/<name>.zip`)."""

from __future__ import annotations

import csv
import io
import zipfile
from pathlib import Path

from dsacord_spark.schema import CSV_COLUMNS

HEADER = ",".join(CSV_COLUMNS)

# one fully-populated valid row
FULL_ROW = {
    "uuid": "aaaa-1",
    "decision_visibility": '["DECISION_VISIBILITY_CONTENT_REMOVED"]',
    "end_date_visibility_restriction": "2025-01-02 03:04:05",
    "category": "STATEMENT_CATEGORY_SCAM",
    "content_type": "not-json-token",
    "automated_detection": "Yes",
    "platform_uid": "175928847299117063-42-user",
    "created_at": "2025-01-01 00:00:00",
}


def csv_row(overrides: dict) -> str:
    """One fully quoted wire line; a column `overrides` lacks is ''."""
    buf = io.StringIO()
    csv.writer(buf, quoting=csv.QUOTE_ALL, lineterminator="").writerow(
        [overrides.get(c, "") for c in CSV_COLUMNS]
    )
    return buf.getvalue()


def wire_csv(rows: list[dict]) -> str:
    """A CSV member: the 36-column header, then one line per row."""
    return "\n".join([HEADER, *map(csv_row, rows)]) + "\n"


def zip_bytes(members: dict[str, str | bytes]) -> bytes:
    """A ZIP holding each member: CSV text, or the bytes of a nested ZIP."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def dump_zip(rows: list[dict], nested: bool = False) -> bytes:
    """A dump ZIP of `rows` as one member, `d.csv`; `nested` puts that
    member inside an `inner.zip` entry, as the daily dumps do."""
    members = {"d.csv": wire_csv(rows)}
    return zip_bytes({"inner.zip": zip_bytes(members)} if nested else members)


def day_zip(
    uuid: str, created_at: str = FULL_ROW["created_at"], copies: int = 1
) -> bytes:
    """A nested dump of `copies` identical FULL_ROW lines with this uuid
    and created_at."""
    return dump_zip([dict(FULL_ROW, uuid=uuid, created_at=created_at)] * copies, nested=True)


def stage_zip(landing, dt: str, name: str, data: bytes) -> str:
    """Publish one dump into `landing` as `dt=<dt>/<name>`; returns the
    landing dir as a string."""
    day = Path(landing) / f"dt={dt}"
    day.mkdir(parents=True, exist_ok=True)
    (day / name).write_bytes(data)
    return str(landing)
