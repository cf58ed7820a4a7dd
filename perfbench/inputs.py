"""Seed-parameterised inputs for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and of
repository code: nothing here reads outside the repository. The chat
workload reuses ``transcripts.generate_rows(..., include_fixtures=False)``
so the random stream never depends on files outside the repository;
the web workload is generated here.

An input is a list of row tuples plus a content digest over those rows
(sha256 of length-prefixed fields, in generation order). ``materialize``
writes the rows once as parquet under the benchmark's work directory,
keyed by (workload, seed, size), and re-verifies the digest on every
load.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes: recorded digests belong to one version
GENERATOR_VERSION = 3

CHAT_TURNS = 25_000
INPUT_FILES = 4
DENSE_DOC_BYTES = 100_000
# each input file holds one window of DENSE_FOREIGN_EVERY dense documents
# with foreign content in these slots (slot 9: CDATA, the others: a
# raw-text tag): 3 of 20 = 15% fall back to the Python tokenizer, and
# every file, hence every Spark partition, carries the same share
DENSE_FOREIGN_SLOTS = frozenset((3, 9, 16))
DENSE_FOREIGN_EVERY = 20
# and, after them, this many boilerplate pages, half of them repeats
BOILER_PER_FILE = 50
BOILER_REPEAT_FRAC = 0.5
BOILER_ZIPF_S = 1.1
WEB_ROWS = INPUT_FILES * (DENSE_FOREIGN_EVERY + BOILER_PER_FILE)

SIZES = {"chat_job": CHAT_TURNS, "web_mixed": WEB_ROWS}

DOC_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])

_EPOCH = datetime.datetime(2024, 1, 1)

_WORDS = (
    "the of and to in is was for on that with as by at from it this be are "
    "an or have not which but had were they his her their one all can "
    "data parser token tree node element attribute stream buffer record "
    "partition executor shuffle window column table query index vector "
    "document markup heading paragraph section article footer header "
    "river mountain harbor village market garden library museum station "
    "winter summer autumn spring morning evening morning quiet bright "
    "careful rapid gentle ancient modern simple curious patient honest "
    "measure collect observe report compare describe explain improve "
    "network memory storage compute kernel thread process signal value"
).split()

_ENTITIES = ("&amp;", "&lt;", "&gt;", "&copy;", "&mdash;", "&nbsp;",
             "&eacute;", "&#8212;", "&#x2713;", "&hellip;")


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def _sentence(rng: random.Random, uid: str) -> str:
    """Prose with inline markup, charrefs and a unique number, so no two
    generated documents share their bytes."""
    parts = [_words(rng, 6, 14)]
    r = rng.random()
    if r < 0.3:
        parts.append(f'<a href="/p/{uid}/{rng.randrange(10**6)}">'
                     f"{_words(rng, 1, 3)}</a>")
    elif r < 0.5:
        parts.append(f"<b>{_words(rng, 1, 3)}</b>")
    elif r < 0.65:
        parts.append(f"<em>{_words(rng, 1, 2)}</em> {rng.choice(_ENTITIES)}")
    elif r < 0.75:
        # misnested formatting: adoption agency
        parts.append(f"<b><i>{_words(rng, 1, 2)}</b> {_words(rng, 1, 2)}</i>")
    parts.append(f"{_words(rng, 3, 9)} {rng.randrange(10**6)}.")
    return " ".join(parts)


def _dense_block(rng: random.Random, uid: str, i: int) -> str:
    r = rng.random()
    if r < 0.45:
        return "<p>" + " ".join(_sentence(rng, uid)
                                for _ in range(rng.randint(2, 5))) + "</p>\n"
    if r < 0.6:
        items = "".join(f"<li>{_sentence(rng, uid)}"
                        for _ in range(rng.randint(3, 7)))
        return f"<ul class=\"l{i}\">{items}</ul>\n"
    if r < 0.72:
        rows = "".join(
            "<tr>" + "".join(f"<td>{_words(rng, 1, 4)}</td>"
                             for _ in range(rng.randint(2, 5)))
            for _ in range(rng.randint(2, 6)))
        return f"<table><tbody>{rows}</tbody></table>\n"
    if r < 0.82:
        return f"<h3 id=\"h{i}\">{_words(rng, 2, 6)}</h3>\n"
    if r < 0.9:
        return f"<!-- block {uid} {i} {_words(rng, 1, 4)} -->\n"
    if r < 0.95:
        # implied end tags
        return "<div><p>" + "<p>".join(_sentence(rng, uid)
                                       for _ in range(3)) + "</div>\n"
    return (f"<dl><dt>{_words(rng, 1, 3)}<dd>{_sentence(rng, uid)}"
            f"<dt>{_words(rng, 1, 3)}<dd>{_words(rng, 3, 8)}</dl>\n")


def _foreign_tail(rng: random.Random, kind: str, uid: str) -> str:
    """Foreign content followed by the construct that makes the C fast
    scan bail for the whole document: a raw-text start tag
    ("raw-tag-after-foreign") or a CDATA section ("cdata-after-foreign")."""
    svg = (f'<svg viewBox="0 0 10 10"><circle r="{rng.randint(1, 9)}"/>'
           f"<text>{_words(rng, 1, 3)}</text></svg>\n")
    if kind == "raw":
        return svg + (f"<script>var k{uid.replace('-', '_')} = "
                      f"{rng.randrange(10**6)};</script>\n")
    return (f"<math><mi>{_words(rng, 1, 2)}</mi></math>\n"
            f"<svg><![CDATA[{_words(rng, 2, 5)}]]></svg>\n")


def dense_document(rng: random.Random, uid: str, foreign: str | None) -> str:
    """One ~DENSE_DOC_BYTES HTML document. foreign is None (C fast scan
    accepts it), "raw" or "cdata" (it falls back to the Python
    tokenizer halfway through the body)."""
    head = (
        "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{uid} {_words(rng, 2, 5)}</title>"
        "<style>p { margin: 0 } td { padding: 2px }</style>"
        f"<script>var page = \"{uid}\"; if (a < b) {{ x = 1; }}</script>"
        "</head>\n<body>\n"
        f"<h1>{_words(rng, 3, 7)}</h1>\n"
    )
    parts = [head]
    size = len(head)
    i = 0
    half = DENSE_DOC_BYTES // 2
    inserted = foreign is None
    while size < DENSE_DOC_BYTES:
        block = _dense_block(rng, uid, i)
        if not inserted and size >= half:
            block = _foreign_tail(rng, foreign, uid) + block
            inserted = True
        parts.append(block)
        size += len(block)
        i += 1
    parts.append("</body></html>\n")
    return "".join(parts)


def _nav(rng: random.Random, cls: str, n: int) -> str:
    links = "".join(f'<li><a href="/{cls}/{k}">{_words(rng, 1, 2)}</a></li>'
                    for k in range(n))
    return f'<div class="{cls}"><ul>{links}</ul></div>\n'


def boilerplate_page(rng: random.Random, uid: str, target: int) -> str:
    """One page of about `target` bytes: header, nav, sidebar, link
    lists and footer around an article body of prose paragraphs."""
    top = (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\">"
        f"<title>{uid} {_words(rng, 2, 4)}</title></head><body>\n"
        f"<header><div class=\"banner\">{_words(rng, 2, 4)}</div>"
        f"{_nav(rng, 'menu', rng.randint(5, 9))}</header>\n"
        f"<nav>{_nav(rng, 'breadcrumb', 4)}</nav>\n"
        f"<aside class=\"sidebar\">{_nav(rng, 'related', rng.randint(6, 12))}"
        "</aside>\n<main><article>\n"
        f"<h1>{_words(rng, 4, 9)}</h1>\n"
    )
    bottom = (
        "</article>\n"
        f"{_nav(rng, 'share', 5)}"
        f"<div class=\"links\">{_nav(rng, 'more', rng.randint(8, 16))}</div>"
        "</main>\n"
        f"<footer><p>{_words(rng, 4, 8)} &copy; {rng.randint(1990, 2030)}"
        f"</p>{_nav(rng, 'footer-links', 6)}</footer>\n</body></html>\n"
    )
    parts = [top]
    size = len(top) + len(bottom)
    while size < target:
        r = rng.random()
        if r < 0.75:
            block = "<p>" + " ".join(_sentence(rng, uid) for _ in
                                     range(rng.randint(2, 4))) + "</p>\n"
        elif r < 0.85:
            block = f"<h2>{_words(rng, 3, 7)}</h2>\n"
        else:
            block = (f"<ul><li>{_words(rng, 2, 6)}<li>{_words(rng, 2, 6)}"
                     f"<li><a href=\"/x/{rng.randrange(10**6)}\">"
                     f"{_words(rng, 1, 3)}</a></ul>\n")
        parts.append(block)
        size += len(block)
    parts.append(bottom)
    return "".join(parts)


def _doc_row(kind: str, i: int, text: str):
    return (f"{kind}{i:06d}", 0, "page", text, None, _EPOCH)


def chat_rows(seed: int, n: int = CHAT_TURNS) -> list:
    from html_parser_spark.spark.transcripts import generate_rows

    return generate_rows(n, seed=seed, include_fixtures=False)


def dense_rows(seed: int, n: int) -> list:
    """Dense documents dense000000.. in windows of 20: documents
    k*20 .. k*20+19, shuffled within the window."""
    rng = random.Random(f"web_dense:{seed}")
    rows = []
    for i in range(n):
        slot = i % DENSE_FOREIGN_EVERY
        foreign = None
        if slot in DENSE_FOREIGN_SLOTS:
            foreign = "raw" if slot != 9 else "cdata"
        rows.append(_doc_row("dense", i,
                             dense_document(rng, f"s{seed}-d{i}", foreign)))
    for lo in range(0, n, DENSE_FOREIGN_EVERY):
        window = rows[lo:lo + DENSE_FOREIGN_EVERY]
        rng.shuffle(window)
        rows[lo:lo + DENSE_FOREIGN_EVERY] = window
    return rows


def boilerplate_rows(seed: int, n: int) -> list:
    """Pages page000000..: distinct pages and repeats interleaved; each repeat draws a page
    with Zipf weight 1/rank**s, so a few pages are hot. The shape --
    page sizes, which rows repeat which page, row order -- comes from a
    fixed stream, and only the page content from the seed, so every
    seed asks the same parse and cache work of every partition."""
    shape = random.Random("web_boilerplate:shape")
    rng = random.Random(f"web_boilerplate:{seed}")
    n_unique = n - int(n * BOILER_REPEAT_FRAC)
    pages = [boilerplate_page(rng, f"s{seed}-p{k}",
                              shape.randint(10_000, 30_000))
             for k in range(n_unique)]
    weights = [1.0 / (k + 1) ** BOILER_ZIPF_S for k in range(n_unique)]
    picks = list(range(n_unique)) + shape.choices(
        range(n_unique), weights, k=n - n_unique)
    shape.shuffle(picks)
    return [_doc_row("page", i, pages[k]) for i, k in enumerate(picks)]


def web_rows(seed: int, n: int = WEB_ROWS) -> list:
    """Input file k (of INPUT_FILES) holds dense window k, then the
    next BOILER_PER_FILE boilerplate rows: every file, hence every Spark
    partition, asks the same mix of work."""
    per_file = n // INPUT_FILES
    pages_per_file = per_file - DENSE_FOREIGN_EVERY
    dense = dense_rows(seed, INPUT_FILES * DENSE_FOREIGN_EVERY)
    pages = boilerplate_rows(seed, INPUT_FILES * pages_per_file)
    rows = []
    for k in range(INPUT_FILES):
        rows += dense[k * DENSE_FOREIGN_EVERY:(k + 1) * DENSE_FOREIGN_EVERY]
        rows += pages[k * pages_per_file:(k + 1) * pages_per_file]
    return rows


GENERATORS = {"chat_job": chat_rows, "web_mixed": web_rows}


def rows_digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        for v in row:
            b = b"\xff" if v is None else str(v).encode("utf-8",
                                                        "surrogatepass")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def to_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, DOC_SCHEMA)],
        schema=DOC_SCHEMA)


def table_rows(table: pa.Table) -> list:
    return list(zip(*(table.column(f.name).to_pylist() for f in DOC_SCHEMA)))


class InputDigestError(RuntimeError):
    pass


def recorded_digest(digests_path: str, workload: str, seed: int):
    """The recorded digest of (workload, seed, size), or None for a seed
    that was not recorded."""
    with open(digests_path) as f:
        table = json.load(f)
    if table.get("generator_version") != GENERATOR_VERSION:
        raise InputDigestError(
            f"{digests_path} records generator version "
            f"{table.get('generator_version')}, the generators are version "
            f"{GENERATOR_VERSION}: re-record with inputs.py")
    return table["digests"].get(f"{workload}:{seed}:{SIZES[workload]}")


def materialize(work_dir: str, digests_path: str, workload: str,
                seed: int) -> dict:
    """Write (or reuse) the parquet input of (workload, seed). Returns
    {path, digest, rows, text_mb, recorded}. Raises InputDigestError when
    the regenerated or cached input differs from the recorded digest
    (or, for an unrecorded seed, from a second generation)."""
    size = SIZES[workload]
    want = recorded_digest(digests_path, workload, seed)
    path = os.path.join(work_dir, "inputs",
                        f"{workload}-s{seed}-n{size}-v{GENERATOR_VERSION}")
    if os.path.isdir(path):
        rows = table_rows(pq.read_table(path, schema=DOC_SCHEMA))
        digest = rows_digest(rows)
        with open(os.path.join(path, "_DIGEST")) as f:
            cached = f.read().strip()
        if digest != cached or (want is not None and digest != want):
            shutil.rmtree(path)  # torn or stale cache: regenerate
            return materialize(work_dir, digests_path, workload, seed)
    else:
        rows = GENERATORS[workload](seed, size)
        digest = rows_digest(rows)
        if want is None:
            again = rows_digest(GENERATORS[workload](seed, size))
            if again != digest:
                raise InputDigestError(
                    f"{workload} seed {seed}: two generations differ "
                    f"({digest[:16]} vs {again[:16]})")
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table = to_table(rows)
        n = len(rows)
        for k in range(INPUT_FILES):
            lo, hi = k * n // INPUT_FILES, (k + 1) * n // INPUT_FILES
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(tmp, f"part-{k:03d}.parquet"))
        with open(os.path.join(tmp, "_DIGEST"), "w") as f:
            f.write(digest + "\n")
        os.replace(tmp, path)
    if want is not None and digest != want:
        raise InputDigestError(
            f"{workload} seed {seed} size {size}: input digest {digest} "
            f"differs from the recorded {want}")
    text_mb = sum(len(r[3].encode("utf-8", "surrogatepass"))
                  for r in rows if r[3] is not None) / 1e6
    return {"path": path, "digest": digest, "rows": rows,
            "text_mb": text_mb, "recorded": want is not None}


def record(digests_path: str, seeds) -> None:
    """Regenerate the inputs of every workload for `seeds` and write
    their digests: the reference that ``materialize`` checks against."""
    table = {"generator_version": GENERATOR_VERSION, "digests": {}}
    for workload, size in sorted(SIZES.items()):
        for seed in seeds:
            rows = GENERATORS[workload](seed, size)
            table["digests"][f"{workload}:{seed}:{size}"] = rows_digest(rows)
    with open(digests_path, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    import argparse
    import sys

    ap = argparse.ArgumentParser(
        description="Record the input digests of seeds FIRST..LAST "
                    "(python3 perfbench/inputs.py 0 31).")
    ap.add_argument("first", type=int)
    ap.add_argument("last", type=int)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    record(os.path.join(here, "digests.json"),
           range(args.first, args.last + 1))
