"""Seeded input generators and their expected-output manifests.

Every input is a deterministic function of a seed. Alongside each input
the generators keep what a correct program must produce from it (a lake
manifest, the planted copies of a curation batch); the program under
test only ever sees the generated files, and the expectations stay on
the benchmark side for the output checks.

Decision dumps follow the shape of the reference's daily ZIPs: one
`day.zip` per day holding a nested `inner.zip` of two CSVs, a plain CSV
and a small ragged CSV (rows wider than the header, which only the
row-at-a-time fallback parser accepts). Rows carry realistic widths
(free-text facts and explanations, reference URLs, multi-valued arrays),
about 1.1 KB of CSV per row; ~1% have an empty uuid (quarantined) and
~2% are exact copies of a row in another member of the same day (the
within-batch dedup drops them).
"""

from __future__ import annotations

import calendar
import csv
import hashlib
import io
import zipfile
from dataclasses import dataclass, field
from datetime import date, datetime

import numpy as np

# the 36 wire columns of a decisions dump, in dump order
CSV_COLUMNS = [
    "uuid", "decision_visibility", "decision_visibility_other",
    "end_date_visibility_restriction", "decision_monetary",
    "decision_monetary_other", "end_date_monetary_restriction",
    "decision_provision", "end_date_service_restriction", "decision_account",
    "end_date_account_restriction", "account_type", "decision_ground",
    "decision_ground_reference_url", "illegal_content_legal_ground",
    "illegal_content_explanation", "incompatible_content_ground",
    "incompatible_content_explanation", "category", "category_addition",
    "category_specification", "category_specification_other", "content_type",
    "content_type_other", "content_language", "content_date",
    "territorial_scope", "application_date", "decision_facts", "source_type",
    "source_identity", "automated_detection", "automated_decision",
    "platform_name", "platform_uid", "created_at",
]

FIRST_DAY = date(2025, 1, 1)
EU = ["AT", "BE", "BG", "CY", "CZ", "DE", "DK", "EE", "ES", "FI", "FR", "GR",
      "HR", "HU", "IE", "IT", "LT", "LU", "LV", "MT", "NL", "PL", "PT", "RO",
      "SE", "SI", "SK"]
CATEGORIES = [
    "STATEMENT_CATEGORY_ILLEGAL_OR_HARMFUL_SPEECH",
    "STATEMENT_CATEGORY_SCAMS_AND_FRAUD",
    "STATEMENT_CATEGORY_PROTECTION_OF_MINORS",
    "STATEMENT_CATEGORY_VIOLENCE",
    "STATEMENT_CATEGORY_CYBER_VIOLENCE",
    "STATEMENT_CATEGORY_DATA_PROTECTION_AND_PRIVACY_VIOLATIONS",
    "STATEMENT_CATEGORY_NON_CONSENSUAL_BEHAVIOUR",
    "STATEMENT_CATEGORY_SCOPE_OF_PLATFORM_SERVICE",
]
SPECS = [f"KEYWORD_{k}" for k in (
    "HATE_SPEECH", "SPAM", "PHISHING", "IMPERSONATION", "GROOMING",
    "ADULT_SEXUAL_MATERIAL", "CHILD_SEXUAL_ABUSE_MATERIAL", "TERRORIST_CONTENT",
    "REGULATED_GOODS_AND_SERVICES", "OTHER")]
CONTENT_TYPES = ["CONTENT_TYPE_TEXT", "CONTENT_TYPE_IMAGE", "CONTENT_TYPE_VIDEO",
                 "CONTENT_TYPE_SYNTHETIC_MEDIA", "CONTENT_TYPE_OTHER"]
LANGS = ["EN", "DE", "FR", "NL", "ES", "IT", "PL"]
GROUNDS = ["DECISION_GROUND_INCOMPATIBLE_CONTENT", "DECISION_GROUND_ILLEGAL_CONTENT"]
ACCOUNT = ['["DECISION_ACCOUNT_SUSPENDED"]', '["DECISION_ACCOUNT_TERMINATED"]', ""]
DETECTION = ["Yes", "No", "Yes", "unknown"]

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + [
    c + v + "n" for c in "bdgkmprst" for v in "aeiou"]


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """`size` distinct pseudo-words of 2-4 syllables."""
    words: dict[str, None] = {}
    syl = np.array(_SYLLABLES)
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 5, n)
        picks = rng.integers(0, len(syl), (n, 4))
        for k, row in zip(lens, picks):
            words["".join(syl[row[:k]])] = None
    return list(words)[:size]


def _words(rng: np.random.Generator, vocab: list[str], n: int, lo: int,
           hi: int) -> list[str]:
    """`n` space-joined runs of lo..hi-1 uniformly drawn vocabulary words."""
    lens = rng.integers(lo, hi, n).tolist()
    ids = rng.integers(0, len(vocab), (n, hi)).tolist()
    return [" ".join([vocab[j] for j in row[:k]]) for row, k in zip(ids, lens)]


def _json_arrays(rng: np.random.Generator, items: list[str], n: int, lo: int,
                 hi: int) -> list[str]:
    """`n` JSON string arrays of lo..hi-1 distinct `items` each."""
    lens = rng.integers(lo, hi, n).tolist()
    order = np.argsort(rng.random((n, len(items))), axis=1).tolist()
    return ["[" + ",".join(['"' + items[j] + '"' for j in sorted(row[:k])]) + "]"
            for row, k in zip(order, lens)]


def _timestamps(day: date, offsets: np.ndarray) -> list[str]:
    """'YYYY-MM-DD HH:MM:SS' strings at `offsets` seconds after `day`."""
    t = np.datetime64(day.isoformat()) + offsets.astype("timedelta64[s]")
    return np.char.replace(np.datetime_as_string(t, unit="s"), "T", " ").tolist()


def _md5_u64(s: str) -> int:
    """DuckDB's md5_number_upper: the first 8 md5 bytes, little-endian."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little")


# --- decision dumps ------------------------------------------------------


@dataclass
class DayDump:
    day: date
    zip_bytes: bytes
    rows: int          # CSV data rows across all members, copies included
    quarantined: int   # rows with an empty uuid
    valid: list[list[str]] = field(repr=False)  # distinct non-empty-uuid rows


def _decision_rows(rng: np.random.Generator, vocab: list[str], day: date,
                   uuids: list[str]) -> list[list[str]]:
    """Wire rows (36 strings each) for one dump day, built column-wise."""
    n = len(uuids)
    i = np.arange(n)
    illegal = rng.random(n) < 0.5
    created = _timestamps(day, rng.integers(0, 86_400, n))
    later = _timestamps(day, np.full(n, 86_400 * 30))
    content = _timestamps(day, -rng.integers(0, 86_400 * 5, n))
    applied = _timestamps(day, rng.integers(0, 3_600, n))
    scope = _json_arrays(rng, EU, n, 1, len(EU) + 1)
    ctypes = _json_arrays(rng, CONTENT_TYPES, n, 1, 3)
    addition = _json_arrays(rng, CATEGORIES, n, 2, 3)
    specs = _json_arrays(rng, SPECS, n, 1, 4)
    urls = _words(rng, vocab, n, 2, 4)
    explanation = _words(rng, vocab, n, 8, 24)
    facts = _words(rng, vocab, n, 15, 45)
    category = rng.integers(0, len(CATEGORIES), n).tolist()
    lang = rng.integers(0, len(LANGS), n).tolist()
    section = rng.integers(1, 20, n).tolist()
    snowflake = (1_100_000_000_000_000_000 + rng.integers(0, 10**17, n)).tolist()
    entity = rng.integers(10**17, 10**18, n).tolist()
    rows = []
    for k in range(n):
        il = bool(illegal[k])
        m = int(i[k])
        rows.append([
            uuids[k],
            '["DECISION_VISIBILITY_CONTENT_REMOVED"]' if m % 5 else "",
            "", "" if m % 7 else later[k],
            "", "", "",
            '["DECISION_PROVISION_PARTIAL_SUSPENSION"]' if m % 11 == 0 else "",
            "",
            ACCOUNT[m % 3], "" if m % 13 else later[k],
            "ACCOUNT_TYPE_PRIVATE" if m % 4 else "ACCOUNT_TYPE_BUSINESS",
            GROUNDS[il],
            "https://discord.com/terms/" + urls[k].replace(" ", "-"),
            "Article 3 of Regulation (EU) 2022/2065" if il else "",
            explanation[k] if il else "",
            "" if il else f"Community Guidelines section {section[k]}",
            "" if il else explanation[k],
            CATEGORIES[category[k]],
            "" if m % 3 else addition[k],
            specs[k],
            "",
            ctypes[k] if m % 9 else "CONTENT_TYPE_TEXT",  # bare token
            "",
            LANGS[lang[k]],
            content[k],
            scope[k],
            applied[k],
            facts[k],
            "SOURCE_VOLUNTARY" if m % 6 else "SOURCE_TRUSTED_FLAGGER",
            "",
            DETECTION[m % 4],
            "AUTOMATED_DECISION_PARTIALLY" if m % 2
            else "AUTOMATED_DECISION_NOT_AUTOMATED",
            "Discord Netherlands B.V.",
            f"{snowflake[k]}-{entity[k]}-" + ("message" if m % 3 else "user"),
            created[k],
        ])
    return rows


def _csv_bytes(rows: list[list[str]]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    w.writerow(CSV_COLUMNS)
    w.writerows(rows)
    return buf.getvalue().encode()


def decisions_day(rng: np.random.Generator, vocab: list[str], day: date,
                  rows: int, ragged_rows: int = 64) -> DayDump:
    """One day's dump ZIP: inner.zip{part-0.csv, part-1.csv}, part-2.csv
    (whose first rows copy 2% of the day's rows out of part-0.csv) and a
    ragged part-3.csv (every 8th row has one field more than the header)."""
    tag = day.strftime("%Y%m%d")
    salt = rng.integers(0, 16**8, rows + ragged_rows).tolist()
    empty = (rng.random(rows) < 0.01).tolist()
    uuids = ["" if empty[k] else f"{tag}-{k:07d}-{salt[k]:08x}"
             for k in range(rows)]
    base = _decision_rows(rng, vocab, day, uuids)
    ragged = _decision_rows(rng, vocab, day, [
        f"{tag}-r{k:06d}-{salt[rows + k]:08x}" for k in range(ragged_rows)])
    n0, n1 = int(rows * 0.4), int(rows * 0.3)
    dup = base[: max(1, rows // 50)]
    inner = io.BytesIO()
    with zipfile.ZipFile(inner, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("part-0.csv", _csv_bytes(base[:n0]))
        zf.writestr("part-1.csv", _csv_bytes(base[n0:n0 + n1]))
    outer = io.BytesIO()
    with zipfile.ZipFile(outer, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("inner.zip", inner.getvalue())
        zf.writestr("part-2.csv", _csv_bytes(dup + base[n0 + n1:]))
        zf.writestr("part-3.csv", _csv_bytes(
            [r + ["extra-field"] if k % 8 == 7 else r
             for k, r in enumerate(ragged)]))
    return DayDump(
        day=day,
        zip_bytes=outer.getvalue(),
        rows=rows + len(dup) + ragged_rows,
        quarantined=sum(empty) + sum(1 for r in dup if not r[0]),
        valid=[r for r in base + ragged if r[0]],
    )


def lake_manifest(rows: list[list[str]]) -> dict:
    """What the typed lake must hold for these distinct valid wire rows:
    row count plus per-column checksums DuckDB can recompute."""
    ix = {c: i for i, c in enumerate(CSV_COLUMNS)}
    scope = ix["territorial_scope"]
    out = {
        "rows": len(rows),
        "uuid_md5": sum(_md5_u64(r[ix["uuid"]]) for r in rows),
        "facts_md5": sum(_md5_u64(r[ix["decision_facts"]]) for r in rows),
        "category_md5": sum(_md5_u64(r[ix["category"]]) for r in rows),
        "entity_md5": sum(_md5_u64(r[ix["platform_uid"]].split("-")[1])
                          for r in rows),
        "scope_items": sum(r[scope].count(",") + 1 for r in rows if r[scope]),
        "created_epoch": sum(
            calendar.timegm(datetime.strptime(r[ix["created_at"]],
                                              "%Y-%m-%d %H:%M:%S").timetuple())
            for r in rows),
        "detected_yes": sum(1 for r in rows if r[ix["automated_detection"]] == "Yes"),
        "detected_null": sum(1 for r in rows
                             if r[ix["automated_detection"]] not in ("Yes", "No")),
    }
    return out


def merge_manifests(ms: list[dict]) -> dict:
    return {k: sum(m[k] for m in ms) for k in ms[0]} if ms else {}


# --- curation corpus -----------------------------------------------------


@dataclass
class CurateBatch:
    ids: list[int]
    texts: list[str]
    exact_copies: list[int]      # copies of index docs: must be dropped
    near_copies: list[int]       # 2-word edits of index docs: recall target
    within_pairs: list[tuple[int, int]]  # in-batch copies: one kept
    uniques: list[int]           # fresh docs: must be kept


class CurateSource:
    """A corpus and an unbounded, deterministic sequence of daily batches
    (batch k depends only on the seed and k) over a Zipf-weighted
    vocabulary of `vocab_size` pseudo-words, so unrelated documents share
    almost no word 3-grams."""

    def __init__(self, seed: int, corpus_docs: int, batch_docs: int,
                 vocab_size: int = 24_000):
        self.seed = seed
        self.batch_docs = batch_docs
        rng = np.random.default_rng([seed, 2])
        self.vocab = make_vocab(rng, vocab_size)
        cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** 0.8)
        self._cdf = cdf / cdf[-1]
        self.corpus_ids = list(range(corpus_docs))
        self._corpus_words = [self._doc(rng) for _ in self.corpus_ids]
        self.corpus_texts = [" ".join(w) for w in self._corpus_words]

    def _doc(self, rng: np.random.Generator) -> list[str]:
        picks = np.searchsorted(self._cdf, rng.random(int(rng.integers(50, 120))))
        return [self.vocab[j] for j in picks.tolist()]

    def batch(self, k: int) -> CurateBatch:
        rng = np.random.default_rng([self.seed, 2, k])
        b = CurateBatch([], [], [], [], [], [])
        next_id = 1_000_000 + k * self.batch_docs

        def add(text: str) -> int:
            nonlocal next_id
            b.ids.append(next_id)
            b.texts.append(text)
            next_id += 1
            return b.ids[-1]

        n_copies = self.batch_docs // 20
        sources = rng.choice(len(self.corpus_ids), 2 * n_copies, replace=False).tolist()
        for src in sources[:n_copies]:
            b.exact_copies.append(add(self.corpus_texts[src]))
        for src in sources[n_copies:]:
            words = list(self._corpus_words[src])
            for pos in rng.choice(len(words), 2, replace=False).tolist():
                words[pos] = self.vocab[int(rng.integers(0, len(self.vocab)))]
            b.near_copies.append(add(" ".join(words)))
        for _ in range(self.batch_docs // 33):
            t = " ".join(self._doc(rng))
            b.within_pairs.append((add(t), add(t)))
        while len(b.ids) < self.batch_docs:
            b.uniques.append(add(" ".join(self._doc(rng))))
        order = rng.permutation(len(b.ids)).tolist()
        b.ids[:] = [b.ids[i] for i in order]
        b.texts[:] = [b.texts[i] for i in order]
        return b

