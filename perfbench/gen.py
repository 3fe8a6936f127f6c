"""Seeded input generators for the benchmark.

Everything here belongs to the benchmark: the program under test only reads
the parquet tables written from these rows. Each generator also writes what a
correct extraction yields, derived from how each payload was built (null for
the deliberately malformed payloads, whose only reference is the
single-threaded extractor).

    write_chat(dir, seed, turns, convs)   transcripts in six payload dialects
    write_pdf_files(dir, seed, turns)     turns that are whole PDF files
    write_docs(dir, seed, n)              documents with planted duplicates

One seed gives byte-identical files.
"""
import multiprocessing
import os
import random
import zlib
from itertools import accumulate
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Helvetica AFM advance widths for 0x20..0x7e (Adobe core-14 metrics, public).
HELVETICA = [
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584]

FONT_SIZE = 11.9552
LEADING = 13.55
TOP = 710.04
WORDS_PER_LINE = 8
BASE_TS_US = 1735689600 * 1_000_000  # 2025-01-01T00:00:00Z


def _vocab():
    """Syllable words plus tokens that exercise each dialect's escaping."""
    onsets = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "st", "tr", "qu"]
    nuclei = ["a", "e", "i", "o", "u", "ai", "ou"]
    codas = ["", "n", "r", "s", "t", "ck", "ng"]
    words = [a + b + c for a in onsets for b in nuclei for c in codas][:600]
    return words + ["data,", "rows.", "(see", "note)", "a&b", '"quoted"', "it's", "x*y", "snake_case",
                    "#tag", "50%", "v1.2", "[ref]", "e.g.", "C++", "key=value", "TODO:"]


VOCAB = _vocab()


def words(rng, n):
    return rng.choices(VOCAB, k=n)


def lines(ws):
    return [" ".join(ws[i:i + WORDS_PER_LINE]) for i in range(0, len(ws), WORDS_PER_LINE)]


def _num(x):
    s = f"{x:.2f}".rstrip("0").rstrip(".")
    return "0" if s in ("", "-0") else s


class _XCache(dict):
    """x coordinate text of a glyph after `w` thousandths of an em of
    Helvetica advance, formatted once per distinct advance."""

    def __missing__(self, w):
        s = self[w] = _num(w * FONT_SIZE / 1000.0)
        return s


_X = _XCache()
_ADV = {}


def _advances(word):
    """Helvetica advance of each character of `word`, computed once per word."""
    a = _ADV.get(word)
    if a is None:
        a = _ADV[word] = [HELVETICA[ord(ch) - 32] for ch in word]
    return a


def _xml(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")


def svg(ws):
    """Positioned glyph runs in the reference's SVG dialect: one svg:text per
    line, each line split into runs of three words; x coordinates advance by
    Helvetica widths, so run boundaries carry no gap."""
    out = ['<svg:svg xmlns:svg="http://www.w3.org/2000/svg" version="1.1" width="612px" height="792px">\n'
           '<svg:g transform="matrix(1 0 0 -1 0 792)">\n']
    for li, line in enumerate(lines(ws)):
        out.append(f'<svg:text transform="matrix(1 0 0 1 91.92 {_num(TOP - li * LEADING)}) scale(1, -1)" '
                   'xml:space="preserve">')
        w = 0
        parts = line.split(" ")
        for ci in range(0, len(parts), 3):
            run = ("" if ci == 0 else " ") + " ".join(parts[ci:ci + 3])
            adv = []
            for k, word in enumerate(parts[ci:ci + 3]):
                if ci > 0 or k > 0:
                    adv.append(HELVETICA[0])
                adv.extend(_advances(word))
            pos = list(accumulate(adv, initial=w))
            w = pos.pop()
            out.append(f'<svg:tspan x="{" ".join(map(_X.__getitem__, pos))}" y="0" font-family="g_font_2" '
                       f'font-size="{FONT_SIZE}px">{_xml(run)}</svg:tspan>')
        out.append("</svg:text>\n")
    out.append("</svg:g>\n</svg:svg>\n")
    return "".join(out)


def html(ws):
    """A page with navigation, sidebar and footer boilerplate around one main
    paragraph."""
    t = " ".join(ws).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return ("<html><head><title>turn</title><style>p{margin:0}</style></head><body>\n"
            '<nav class="menu"><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/blog">Blog</a></nav>\n'
            f'<div id="content"><p>{t}</p></div>\n'
            '<div class="sidebar"><ul><li><a href="/r/1">related one</a></li>'
            '<li><a href="/r/2">related two</a></li></ul></div>\n'
            '<footer>&copy; 2026 Example &middot; <a href="/terms">Terms</a></footer>\n</body></html>')


def _pdf_str(s):
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def content_stream(ls):
    """A PDF content stream: Tf, Tm, one Tj per line with Td advances; every
    third line is a TJ array with zero kerning."""
    out = [f"BT\n/F1 {FONT_SIZE} Tf\n1 0 0 1 91.92 {TOP} Tm\n"]
    for i, line in enumerate(ls):
        if i > 0:
            out.append(f"0 -{LEADING} Td\n")
        if i % 3 == 2:
            ws = line.split(" ")
            items = [f"({_pdf_str(w if j == 0 else ' ' + w)})" for j, w in enumerate(ws)]
            out.append("[" + " 0 ".join(items) + "] TJ\n")
        else:
            out.append(f"({_pdf_str(line)}) Tj\n")
    out.append("ET\n")
    return "".join(out)


MD_SPECIALS = "\\`*_{}[]()#+-.!>"


def markdown(ws):
    """YAML front matter, then one paragraph whose words carry strong,
    emphasis, code and link decorations on a fixed cycle."""
    body = []
    for i, w in enumerate(ws):
        esc = "".join("\\" + c if c in MD_SPECIALS else c for c in w)
        k = i % 6
        if k == 1:
            body.append(f"**{esc}**")
        elif k == 3:
            body.append(f"*{esc}*")
        elif k == 4 and esc == w:
            body.append(f"`{w}`")
        elif k == 5 and not any(c in "[]()" for c in w):
            body.append(f"[{esc}](https://example.invalid/{i})")
        else:
            body.append(esc)
    return "---\ntitle: turn\nlang: en\n---\n\n" + " ".join(body)


def malformed(rng, ws):
    """Truncated, corrupted or unterminated markup: the extractor must degrade
    without failing the row; the generator claims nothing about the text."""
    k = rng.randrange(5)
    if k == 0:
        s = svg(ws)
        return s[:len(s) // 2]
    if k == 1:
        return content_stream(lines(ws)).replace("Tj", "Tj ] >> ( [").replace("Tf", "Tf /F1")
    if k == 2:
        return "%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" + " ".join(ws)
    if k == 3:
        s = html(ws)
        return s[:len(s) * 2 // 3] + "<div <p <<"
    return svg(ws).replace('x="0 ', 'x="0 NaN- ')


def chat_turn(rng):
    """(dialect, payload, expected). Dialect shares: SVG/HTML/PDF fragments
    at 6:3:1 as in the program's own synthetic corpus, plus markdown, plain
    text and a small fixed share of malformed payloads."""
    ws = words(rng, 5 + rng.randrange(60))
    u = rng.randrange(1000)
    if u < 530:
        return "svg", svg(ws), "\n".join(lines(ws))
    if u < 795:
        return "html", html(ws), " ".join(ws)
    if u < 883:
        return "pdf_fragment", content_stream(lines(ws)), "\n".join(lines(ws))
    if u < 943:
        return "markdown", markdown(ws), " ".join(ws)
    if u < 985:
        t = " ".join(ws)
        return "plain", t, t
    return "malformed", malformed(rng, ws), None


TURN_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
                         ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
EXPECT_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()), ("dialect", pa.string()),
                           ("expected", pa.string())])


def _write_turns(d, rows, files=4):
    """rows: (conv_id, turn_idx, role, payload, ts_us, dialect, expected).
    The transcript table goes to d/input as `files` parquet files, the
    references to d/expected.parquet."""
    (d / "input").mkdir(parents=True, exist_ok=True)
    cols = list(zip(*rows))
    n = len(rows)
    for f in range(files):
        a, b = f * n // files, (f + 1) * n // files
        t = pa.table([list(cols[0][a:b]), list(cols[1][a:b]), list(cols[2][a:b]), list(cols[3][a:b]),
                      [""] * (b - a), list(cols[4][a:b])], schema=TURN_SCHEMA)
        pq.write_table(t, d / "input" / f"part-{f:05d}.parquet", compression="snappy")
    pq.write_table(pa.table([list(cols[0]), list(cols[1]), list(cols[5]), list(cols[6])], schema=EXPECT_SCHEMA),
                   d / "expected.parquet", compression="snappy")


CHAT_PARTS = 8


def _chat_rows(job):
    """Rows of consecutive conversations from their own seeded stream:
    job = (seed, part, first conversation number, conversation sizes)."""
    seed, part, first, sizes = job
    rng = random.Random(f"chat-{seed}-{part}")
    rows = []
    for c, n in enumerate(sizes, start=first):
        conv = f"c{c:06d}"
        for i in range(n):
            dialect, payload, expected = chat_turn(rng)
            ts = BASE_TS_US + c * 86_400_000_000 + i * 1_000_000
            rows.append((conv, i, "user" if i % 2 == 0 else "assistant", payload, ts, dialect, expected))
    return rows


def write_chat(d, seed, turns, convs, mega_share=0.1):
    """Zipf-sized conversations (size ~ 1/rank^0.8, sizes shuffled over ids)
    plus one mega-conversation holding `mega_share` of all turns. The
    conversations are cut into CHAT_PARTS runs of about equal turns, each
    generated from its own seeded stream in a worker process, so the files
    do not depend on the number of workers."""
    rng = random.Random(f"chat-{seed}")
    mega = int(turns * mega_share)
    weights = [1.0 / (r ** 0.8) for r in range(1, convs + 1)]
    scale = (turns - mega) / sum(weights)
    sizes = [max(1, round(w * scale)) for w in weights]
    rng.shuffle(sizes)
    sizes[rng.randrange(convs)] += mega
    jobs, start, acc = [], 0, 0
    for c, n in enumerate(sizes):
        acc += n
        if acc * CHAT_PARTS >= (len(jobs) + 1) * sum(sizes) or c == len(sizes) - 1:
            jobs.append((seed, len(jobs), start, sizes[start:c + 1]))
            start = c + 1
    pool = multiprocessing.get_context("fork").Pool(min(CHAT_PARTS, os.cpu_count() or 1))
    try:
        parts = pool.map(_chat_rows, jobs)
    finally:
        pool.close()
        pool.join()
    rows = [r for part in parts for r in part]
    _write_turns(Path(d), rows)
    return len(rows)


def pdf_file(rng, pages):
    """A complete PDF: classic xref table, one Flate content stream per page,
    the standard Type1 Helvetica font. Returns (latin-1 payload, page texts)."""
    page_lines = [lines(words(rng, 40 + rng.randrange(200))) for _ in range(pages)]
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []

    def obj(body):
        offsets.append(len(out))
        out.extend(f"{len(offsets)} 0 obj\n".encode("latin-1") + body + b"\nendobj\n")

    first_page = 4
    kids = " ".join(f"{first_page + 2 * i} 0 R" for i in range(pages))
    obj(b"<< /Type /Catalog /Pages 2 0 R >>")
    obj(f"<< /Type /Pages /Kids [{kids}] /Count {pages} >>".encode("latin-1"))
    obj(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    for i, ls in enumerate(page_lines):
        obj(f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {first_page + 2 * i + 1} 0 R >>".encode("latin-1"))
        z = zlib.compress(content_stream(ls).encode("latin-1"), 6)
        obj(f"<< /Length {len(z)} /Filter /FlateDecode >>\nstream\n".encode("latin-1") + z + b"\nendstream")
    xref = len(out)
    out.extend(f"xref\n0 {len(offsets) + 1}\n0000000000 65535 f \n".encode("latin-1"))
    for o in offsets:
        out.extend(f"{o:010d} 00000 n \n".encode("latin-1"))
    out.extend(f"trailer\n<< /Size {len(offsets) + 1} /Root 1 0 R >>\nstartxref\n{xref}\n%%EOF\n".encode("latin-1"))
    return out.decode("latin-1"), ["\n".join(ls) for ls in page_lines]


def write_pdf_files(d, seed, turns, pool=None):
    """Turns whose payload is a whole PDF, drawn from a pool of distinct
    files (a quarter of the turns by default), as attachments recur in real
    transcripts; each pool file serves the same number of turns. Page counts
    are heavy-tailed (most files a few pages, a few tens of pages), so
    per-turn cost is skewed; they follow fixed quantiles, so every seed has
    the same page total and only the text and the order differ."""
    rng = random.Random(f"pdf-{seed}")
    size = pool or max(1, turns // 4)
    pages = [1 + int(((i + 0.5) / size) ** 3 * 40) for i in range(size)]
    rng.shuffle(pages)
    files = []
    for n in pages:
        payload, texts = pdf_file(rng, n)
        files.append((payload, "\n".join(texts)))
    order = [t % size for t in range(turns)]
    rng.shuffle(order)
    convs = max(1, turns // 8)
    rows = []
    for t, f in enumerate(order):
        payload, expected = files[f]
        rows.append((f"p{t % convs:05d}", t // convs, "tool", payload, BASE_TS_US + t * 1_000_000,
                     "pdf_file", expected))
    _write_turns(Path(d), rows)
    return len(rows)


def write_docs(d, seed, n):
    """Documents with planted duplicates: byte copies ("exact"), one-word
    edits ("near") and a copied 40-word paragraph inside an otherwise
    unrelated document ("paragraph"). Writes d/docs (id, text) and
    d/planted.parquet (a, b, kind) with a < b."""
    rng = random.Random(f"docs-{seed}")
    texts, planted = [], []

    def fresh():
        return words(rng, 80 + rng.randrange(120))

    while len(texts) < n:
        i = len(texts)
        k = rng.randrange(20)
        if k == 0 and i > 0:
            src = rng.randrange(i)
            texts.append(texts[src])
            planted.append((src, i, "exact"))
        elif k == 1 and i > 0:
            src = rng.randrange(i)
            ws = texts[src].split(" ")
            j = rng.randrange(len(ws))
            ws[j] = ws[j] + "x"
            texts.append(" ".join(ws))
            planted.append((src, i, "near"))
        elif k == 2 and i > 0:
            src = rng.randrange(i)
            sw = texts[src].split(" ")
            start = rng.randrange(max(1, len(sw) - 40))
            own = fresh()
            at = rng.randrange(len(own))
            texts.append(" ".join(own[:at] + sw[start:start + 40] + own[at:]))
            planted.append((src, i, "paragraph"))
        else:
            texts.append(" ".join(fresh()))
    d = Path(d)
    (d / "docs").mkdir(parents=True, exist_ok=True)
    for f in range(4):
        a, b = f * n // 4, (f + 1) * n // 4
        pq.write_table(pa.table({"id": pa.array(range(a, b), pa.int64()), "text": texts[a:b]}),
                       d / "docs" / f"part-{f:05d}.parquet", compression="snappy")
    pq.write_table(pa.table({"a": pa.array([p[0] for p in planted], pa.int64()),
                             "b": pa.array([p[1] for p in planted], pa.int64()),
                             "kind": [p[2] for p in planted]}), d / "planted.parquet", compression="snappy")
    return n
