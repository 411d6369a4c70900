"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports the program's own
generator (``sources.transcripts``), so a change to that module cannot
silently change what is measured. Every table is a pure function of
(workload, seed, size) and is cached on disk under that key; the program
only ever sees the written parquet.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "shipment invoice beneficiary applicant credit documentary tolerance "
    "merchandise inspection certificate origin freight vessel port lading "
    "negotiation reimbursement drawee confirmation presentation discrepancy "
    "amendment expiry latest goods packing weight gross net carton pallet "
    "insurance policy clause carrier consignee notify party transhipment "
    "partial draft sight usance advising bank issuing nominated schedule "
    "the of and to in for with by on at from under against within means "
    "is are was be this that which as or not all any each per upon"
).split()

_CURRENCIES = ("USD", "EUR", "GBP", "JPY", "INR")
_INCOTERMS = ("CFR", "CIF", "FOB", "DAP", "EXW")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun")
_ROLES = ("user", "assistant", "tool")
_TOOLS = ("search", "extract", "classify", "validate")
_BASE_TS = dt.datetime(2024, 1, 1)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
DOCUMENT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(WORDS, k=n))


def _entities(rng: random.Random) -> list[str]:
    """Lines the entity kernel recognises (PO/PI numbers, dates, amounts,
    incoterms, e-mail); each present with its own probability."""
    out = []
    if rng.random() < 0.35:
        out.append("PO NUMBER PO-%05d DATED %02d.%02d.2024"
                   % (rng.randrange(100000), rng.randint(1, 28),
                      rng.randint(1, 12)))
    if rng.random() < 0.25:
        out.append("PI No PI/%04d Date %d-%s-2024"
                   % (rng.randrange(10000), rng.randint(1, 28),
                      rng.choice(_MONTHS)))
    if rng.random() < 0.5:
        out.append("total amount %s %d,%03d.00"
                   % (rng.choice(_CURRENCIES), rng.randint(1, 99),
                      rng.randrange(1000)))
    if rng.random() < 0.2:
        out.append("delivery terms %s destination port"
                   % rng.choice(_INCOTERMS))
    if rng.random() < 0.15:
        out.append("contact buyer-%d@example.com for queries"
                   % rng.randrange(100))
    return out


def _plain(rng: random.Random) -> str:
    parts = [_sentence(rng, rng.randint(8, 16))
             for _ in range(rng.randint(2, 4))]
    return ". ".join(parts + _entities(rng)) + "."


def _html(rng: random.Random) -> str:
    nav = "".join('<li><a href="/%s">%s</a></li>' % (w, w)
                  for w in rng.choices(WORDS, k=rng.randint(3, 5)))
    paras = "".join(
        "<p>%s</p>" % " ".join([_sentence(rng, rng.randint(14, 24))]
                               + _entities(rng))
        for _ in range(rng.randint(1, 3)))
    ncols = rng.randint(2, 3)
    rows = "".join(
        "<tr>%s</tr>" % "".join("<td>%s</td>" % _sentence(rng,
                                                           rng.randint(1, 3))
                                for _ in range(ncols))
        for _ in range(rng.randint(1, 3)))
    heading = ("<h1>%s</h1>" % _sentence(rng, 3)) if rng.random() < 0.5 else ""
    return ('<html><body><ul>%s</ul>%s%s<table>%s</table>'
            '<div><a href="/about">about</a> <a href="/terms">terms</a>'
            '</div></body></html>' % (nav, heading, paras, rows))


def _layout(rng: random.Random) -> str:
    blocks = ["\n".join(_sentence(rng, rng.randint(5, 10))
                        for _ in range(rng.randint(1, 3)))
              for _ in range(rng.randint(1, 3))]
    blocks.append("Description  HS Code  Qty  Unit  Unit Price  Amount")
    blocks.append("\n".join(
        "%s  %04d.%02d  %d  PCS  %d.%02d  %d,%03d.00"
        % (_sentence(rng, 2), rng.randrange(10000), rng.randrange(100),
           rng.randint(1, 500), rng.randint(1, 90), rng.randrange(100),
           rng.randint(1, 99), rng.randrange(1000))
        for _ in range(rng.randint(1, 4))))
    ents = _entities(rng)
    if ents:
        blocks.append("\n".join(ents))
    return "\n\n".join(blocks)


def _turn_text(rng: random.Random) -> str:
    """~50% plain, ~30% html, ~17% layout, ~3% edge cases (empty,
    whitespace-only, shorter than the 5-character minimum)."""
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.02:
        return "   \n\t  \n   "
    if r < 0.03:
        return "ok"
    if r < 0.53:
        return _plain(rng)
    if r < 0.83:
        return _html(rng)
    return _layout(rng)


def _long_plain(rng: random.Random, lo: int, hi: int) -> str:
    """One long plain turn: sentences on a few lines, lo..hi words."""
    n = rng.randint(lo, hi)
    lines, done = [], 0
    while done < n:
        k = min(n - done, rng.randint(40, 120))
        lines.append(_sentence(rng, k) + ".")
        done += k
    return "\n".join(lines)


def transcript_rows(seed: int, n_convs: int, *, mega_every: int,
                    mega_turns: int, mega_words: int):
    """Rows of the transcripts table. Conversation ``i`` is a mega
    conversation of ``mega_turns`` long plain turns when
    ``mega_every`` divides ``i + 1`` (each of ``mega_words/2`` to
    ``mega_words`` words); all others have 5..40 mixed turns.

    The seed draws the text, never the table's shape: conversation
    lengths are a fixed function of ``i``, so every seed has the same
    row count and the same mega-conversation positions, and the range
    exchange cuts every seed's table at the same keys."""
    rng = random.Random(seed)
    for i in range(n_convs):
        conv = "conv-%06d" % i
        mega = (i + 1) % mega_every == 0
        n = mega_turns if mega else 5 + (i * 17) % 36
        for t in range(n):
            role = _ROLES[t % 3] if t < 2 else rng.choice(_ROLES)
            text = (_long_plain(rng, mega_words // 2, mega_words) if mega
                    else _turn_text(rng))
            yield (conv, t, role, text,
                   rng.choice(_TOOLS) if role == "tool" else "",
                   _BASE_TS + dt.timedelta(seconds=t))


def document_rows(seed: int, n_docs: int, *, dup_frac: float = 0.1,
                  near_frac: float = 0.1):
    """(rows, exact_duplicates). Short plain documents of 10..120
    tokens; ``dup_frac`` of the rows are byte copies of an original and
    ``near_frac`` are originals with one token swapped for a different
    word. The texts are already lower-case and single-spaced, so the
    duplicate count is the number of rows beyond the first per distinct
    text: the planted copies plus any accidental collision."""
    rng = random.Random(seed)
    n_orig = n_docs - int(n_docs * dup_frac) - int(n_docs * near_frac)
    texts = []
    for _ in range(n_orig):
        toks = rng.choices(WORDS, k=rng.randint(10, 120))
        texts.append(" ".join(toks))
    n_dup = int(n_docs * dup_frac)
    for _ in range(n_dup):
        texts.append(texts[rng.randrange(n_orig)])
    for _ in range(int(n_docs * near_frac)):
        toks = texts[rng.randrange(n_orig)].split(" ")
        j = rng.randrange(len(toks))
        toks[j] = rng.choice([w for w in WORDS if w != toks[j]])
        texts.append(" ".join(toks))
    rng.shuffle(texts)
    ids = rng.sample(range(1, 50 * n_docs), n_docs)
    return list(zip(ids, texts)), len(texts) - len(set(texts))


def _write(path: str, schema: pa.Schema, rows: list, n_files: int) -> None:
    os.makedirs(path)
    cols = list(zip(*rows))
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        lo, hi = f * step, min(len(rows), (f + 1) * step)
        if lo >= hi:
            break
        table = pa.Table.from_arrays(
            [pa.array(c[lo:hi], type=schema.field(k).type)
             for k, c in zip(schema.names, cols)], schema=schema)
        pq.write_table(table, os.path.join(path, "part-%03d.parquet" % f))


def cached_input(cache_dir: str, workload: str, seed: int, size: dict,
                 n_files: int) -> tuple[str, dict]:
    """Generate (once) and return ``(parquet_dir, info)`` for the key
    (workload, seed, size). ``info`` holds the row count, the
    exact-duplicate count for documents, and the input bytes on disk."""
    key = "%s-s%d-%s" % (workload, seed,
                         "-".join("%s%s" % kv for kv in sorted(size.items())))
    root = os.path.join(cache_dir, key)
    done = os.path.join(root, "info.json")
    if os.path.exists(done):
        with open(done) as f:
            return os.path.join(root, "data"), json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    info: dict = {}
    if workload == "curate_neardup":
        rows, info["exact_dups"] = document_rows(seed, **size)
        _write(data, DOCUMENT_SCHEMA, rows, n_files)
    else:
        rows = list(transcript_rows(seed, **size))
        _write(data, TRANSCRIPT_SCHEMA, rows, n_files)
    info["rows"] = len(rows)
    info["bytes"] = sum(os.path.getsize(os.path.join(data, f))
                        for f in os.listdir(data))
    with open(done + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(done + ".tmp", done)
    return data, info
