"""Seeded input generators for the three benchmark workloads.

Everything is a pure function of the seed:

- ``doc_offset(seed)`` shifts the doc_id range, and with it every
  doc_id-keyed synthesis rule of ``sparklog.synthrules`` (PRI, host,
  timestamp, SD mix, corruption class).
- ``documents`` builds the ``documents(doc_id, text, lang)`` table that
  ``sparklog.synth`` consumes. Its text and language mix follow the sf0.1
  ``documents.parquet`` of the sparklog test data, as measured over its
  5,000 pages: ASCII word salad drawn uniformly from 30 words, 10-99 words
  per page (uniform, mean 54), " dup" appended to 5% of pages, 297
  characters per page on average, and languages en/zh/es/fr/de at
  0.41/0.15/0.15/0.15/0.14.
- ``storm_overrides`` gives the malformed and edge-case lines of the
  reject_storm workload, shapes modelled on ``tests/golden_corpus.py``
  with the page text spliced in; every other doc keeps its clean
  synthesized line. ``storm_expected`` derives the class table from the
  same arithmetic, independently of Spark and sparklog.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 corpus's vocabulary, each word 3.3-3.4% of all words
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
WORDS = (10, 99)  # words per page, uniform, inclusive
DUP_P = 0.05  # pages ending in " dup"

LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

_OFFSET_STRIDE = 1_000_003


def doc_offset(seed: int) -> int:
    """First doc_id of the seed's range (kept small enough that every
    synthrules product stays inside a signed 64-bit integer)."""
    return (seed % _OFFSET_STRIDE) * _OFFSET_STRIDE


def documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang) for doc_ids [doc_offset(seed), +n)."""
    rng = np.random.default_rng(seed)
    nwords = rng.integers(WORDS[0], WORDS[1] + 1, size=n)
    words = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), size=int(nwords.sum()))].tolist()
    ends = np.cumsum(nwords).tolist()
    dup = (rng.random(n) < DUP_P).tolist()
    texts = [" ".join(words[e - k:e]) + (" dup" if d else "")
             for e, k, d in zip(ends, nwords.tolist(), dup)]
    langs = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n, p=LANG_P)]
    off = doc_offset(seed)
    return pa.table({
        "doc_id": pa.array(np.arange(off, off + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def write_table(table: pa.Table, path: Path, files: int) -> None:
    """Parquet directory of `files` row-contiguous part files."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       path / f"part-{i:05d}.parquet")


# --- reject_storm ------------------------------------------------------------

# (name, prefix, suffix, expected) — the line is prefix + page text +
# suffix; expected is ("reject", parse_error) or ("ok", severity).
# Shapes follow the named entries of tests/golden_corpus.py.
STORM_CLASSES = (
    ("bad_pri", "<4096>1 2016-01-10T00:00:00Z host app - - - ", "",
     ("reject", "ExpectedTokenErr:>")),
    ("legacy_3164", "<134>Feb 18 20:53:31 haproxy[376]: ", "",
     ("reject", "TooFewDigits")),
    ("truncated", "<39>1 2018-05-15T20:56:58+00:00 -web1west -", None,
     ("reject", "UnexpectedEndOfInput")),
    ("bad_month", "<1>1 2015-13-01T00:00:00Z host - - - - ", "",
     ("reject", "InvalidMonth:13")),
    ("bad_mday", "<1>1 2015-02-29T00:00:00Z host - - - - ", "",
     ("reject", "InvalidDate:day")),
    ("bad_hour", "<1>1 2015-01-01T24:00:00Z host - - - - ", "",
     ("reject", "InvalidDate:hour")),
    ("ts_no_offset", "<1>1 2015-01-01T00:00:00 host - - - - ", "",
     ("reject", "InvalidUTCOffset")),
    ("ts_frac_10", "<1>1 2003-08-24T05:14:15.1122334455+07:00 host - - - - ",
     "", ("reject", "InvalidUTCOffset")),
    ("bad_offset", "<1>1 2015-01-01T18:50:00+26:00 - - - - - ", "",
     ("reject", "InvalidOffset")),
    ("bad_facility", "<200>1 - - - - - - ", "",
     ("reject", "BadFacilityInPri")),
    ("bad_sd_start", "<1>1 - - - - - ", "",
     ("reject", "ExpectedTokenErr:[")),
    ("sd_param_no_eq", "<1>1 - - - - - [meta k] ", "",
     ("reject", "ExpectedTokenErr:=")),
    ("sd_unterminated", '<1>1 - - - - - [meta k="', "",
     ("reject", "UnexpectedEndOfInput")),
    ("hostname_nonascii", "<1>1 - hôst - - - - ", "",
     ("reject", "ExpectedTokenErr: ")),
    ("bom_msg", "<14>1 2017-07-26T14:47:35.869952+05:30 my_hostname "
     "custom_appname 5678 some_unique_msgid - \ufeff", "", ("ok", 6)),
    ("nonascii_msg", "<165>1 2016-02-29T12:00:00.123456789Z host - - - - ",
     " — déjà vu ☃ 日本語", ("ok", 5)),
    ("sd_escape_dup", '<78>1 2016-01-15T00:04:01Z host1 CROND 10391 - '
     '[meta sequenceId="29" sequenceBlah="foo"][my key="val\\"ue"]'
     '[meta bar="baz="] ', "", ("ok", 6)),
    ("dash_prefix", "<39>1 2018-05-15T20:56:58+00:00 -web1west "
     "-201805020050-bc5d6a47c3-master - - [meta sequenceId=\"28485532\"] ",
     "", ("ok", 7)),
)
_SLOTS = 64
_CLEAN = -1  # class of a doc that keeps its clean synthesized line


def storm_classes(seed: int, n: int) -> np.ndarray:
    """Storm class index (or _CLEAN) of each of the n docs: two of 64
    slots per storm class, the remaining 28 clean; both the slot table
    and the slot of each doc are drawn from the seed."""
    table = [i for i in range(len(STORM_CLASSES)) for _ in range(2)]
    table += [_CLEAN] * (_SLOTS - len(table))
    random.Random(seed).shuffle(table)
    slots = np.random.default_rng([seed, 1]).integers(0, _SLOTS, size=n)
    return np.array(table)[slots]


def storm_overrides(seed: int, docs: pa.Table) -> pa.Table:
    """(doc_id, line) of every doc whose line is a storm class."""
    cls = storm_classes(seed, docs.num_rows)
    keep = np.flatnonzero(cls != _CLEAN)
    texts = docs.column("text").take(pa.array(keep)).to_pylist()
    lines = []
    for c, text in zip(cls[keep].tolist(), texts):
        _, prefix, suffix, _ = STORM_CLASSES[c]
        lines.append(prefix if suffix is None else prefix + text + suffix)
    return pa.table({
        "doc_id": docs.column("doc_id").take(pa.array(keep)),
        "line": pa.array(lines, pa.string()),
    })


def storm_expected(seed: int, n: int) -> dict:
    """Expected route of every storm line: rows per sink and rejects per
    error variant."""
    from sparklog.schema import SEVERITY_NAMES

    ids = np.arange(doc_offset(seed), doc_offset(seed) + n, dtype=np.int64)
    cls = storm_classes(seed, n)
    sinks: dict[str, int] = {}
    variants: dict[str, int] = {}

    def add(d, k, cnt):
        d[k] = d.get(k, 0) + int(cnt)

    clean_sev = (ids[cls == _CLEAN] * 7) % 8  # synthrules.SEVERITY
    for sev, cnt in zip(*np.unique(clean_sev, return_counts=True)):
        add(sinks, SEVERITY_NAMES[sev], cnt)
    for i, (_, _, _, (kind, val)) in enumerate(STORM_CLASSES):
        cnt = int((cls == i).sum())
        if kind == "reject":
            add(sinks, "_rejects", cnt)
            add(variants, val, cnt)
        else:
            add(sinks, SEVERITY_NAMES[val], cnt)
    return {"sinks": {k: v for k, v in sinks.items() if v},
            "variants": {k: v for k, v in variants.items() if v}}
