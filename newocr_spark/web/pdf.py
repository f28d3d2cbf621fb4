"""Minimal PDF writer + layout-aware text extractor (stdlib only: zlib).

north_rule: "PDF/layout parse". No PDF library exists in this
environment, so — exactly like the repo's PNG/BMP codecs — we
implement the container from the public spec (PDF 32000-1:2008):

* ``make_pdf`` writes a well-formed PDF 1.4: catalog, page tree, per-page
  FlateDecode (or raw) content streams, Helvetica font, a correct xref
  table. Single-column pages position text with Td/TL/T* (relative
  motion); two-column pages use absolute Tm placement; every third line
  is emitted as a TJ array with kerning numbers — so the reader must
  handle the full text-operator set, not just the writer's favourite.
* ``extract_pdf_text`` parses objects, inflates streams, interprets the
  text operators (Tf TL Td TD Tm T* Tj TJ ' ") tracking the text matrix,
  then reconstructs reading order: runs grouped into lines by y, lines
  sorted top-down, pages in /Kids order — and a column pass that detects
  a wide x-gap between run clusters and emits left column before right
  (classic layout-analysis reading order).

Both halves run per-document inside Arrow batches (web/extract.py) — a
narrow map, no shuffle, linear scale-out.
"""

from __future__ import annotations

import re
import zlib

PAGE_W, PAGE_H = 612, 792
MARGIN_X = 72
TOP_Y = 720
LEADING = 14
FONT_SIZE = 11
LINES_PER_COL = 6
COL2_X = 320
COLUMN_GAP_MIN = 100.0  # pt gap in x that splits clusters into columns

LINE_WORDS = 8  # fixture: text chunks of 8 words per PDF line


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _show_op(line: str, i: int) -> str:
    """Tj for most lines; every third line becomes a TJ array split at the
    first space with a kerning number, to exercise the array form."""
    if i % 3 == 2 and " " in line:
        head, tail = line.split(" ", 1)
        return f"[({_esc(head)} ) -20 ({_esc(tail)})] TJ"
    return f"({_esc(line)}) Tj"


def _content_stream(lines: list[str], two_col: bool) -> bytes:
    ops = [f"BT /F1 {FONT_SIZE} Tf {LEADING} TL"]
    if two_col:
        for i, line in enumerate(lines):
            col, row = divmod(i, LINES_PER_COL)
            x = MARGIN_X if col == 0 else COL2_X
            y = TOP_Y - row * LEADING
            ops.append(f"1 0 0 1 {x} {y} Tm {_show_op(line, i)}")
    else:
        ops.append(f"{MARGIN_X} {TOP_Y} Td {_show_op(lines[0], 0)}")
        for i, line in enumerate(lines[1:], start=1):
            ops.append(f"0 -{LEADING} Td {_show_op(line, i)}")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def make_pdf(lines: list[str], two_col: bool = False, compress: bool = True) -> bytes:
    """Paginate lines (6 per column; two-column pages hold 12) and emit a
    complete PDF with a valid xref."""
    lines = lines or [""]
    per_page = LINES_PER_COL * (2 if two_col else 1)
    pages = [lines[i : i + per_page] for i in range(0, len(lines), per_page)]

    objects: dict[int, bytes] = {}
    font_num = 3 + 2 * len(pages)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(len(pages)))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    )
    for i, page_lines in enumerate(pages):
        page_num, content_num = 3 + 2 * i, 4 + 2 * i
        objects[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} {PAGE_H}] "
            f"/Contents {content_num} 0 R "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
        ).encode()
        raw = _content_stream(page_lines, two_col)
        if compress:
            data = zlib.compress(raw)
            head = f"<< /Length {len(data)} /Filter /FlateDecode >>".encode()
        else:
            data = raw
            head = f"<< /Length {len(data)} >>".encode()
        objects[content_num] = head + b"\nstream\n" + data + b"\nendstream"
    objects[font_num] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objects) + 1
    out += f"xref\n0 {n}\n".encode() + b"0000000000 65535 f \n"
    for num in range(1, n):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_STREAM_START_RE = re.compile(rb"(?<!end)stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
_REF_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """num → (dict bytes, stream payload or None). Stream payloads are
    sliced by /Length — never by scanning for 'endstream', which can occur
    inside compressed bytes (and a regex `\\r?\\n` tail would eat a real
    trailing CR byte of the deflate stream)."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    pos = 0
    while True:
        m = _OBJ_HEADER_RE.search(data, pos)
        if not m:
            return objects
        num = int(m.group(1))
        end_obj = data.find(b"endobj", m.end())
        sm = _STREAM_START_RE.search(data, m.end())
        if sm and (end_obj == -1 or sm.start() < end_obj):
            head = data[m.end() : sm.start()]
            lm = _LENGTH_RE.search(head)
            length = int(lm.group(1)) if lm else 0
            start = sm.end()
            payload = data[start : start + length]
            objects[num] = (head, payload)
            nxt = data.find(b"endobj", start + length)
            pos = nxt + 6 if nxt != -1 else len(data)
        else:
            if end_obj == -1:
                return objects
            objects[num] = (data[m.end() : end_obj], None)
            pos = end_obj + 6


def _stream_data(obj: tuple[bytes, bytes | None] | None) -> bytes | None:
    if obj is None or obj[1] is None:
        return None
    head, payload = obj
    if b"/FlateDecode" in head:
        return zlib.decompress(payload)
    return payload


_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _tokenize(content: bytes):
    """Yield ('str', bytes) | ('num', float) | ('op', str) | ('arr', list)
    tokens of a content stream."""
    i, n = 0, len(content)
    while i < n:
        c = content[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"(":
            depth, i, buf = 1, i + 1, bytearray()
            while i < n and depth:
                ch = content[i : i + 1]
                if ch == b"\\":
                    nxt = content[i + 1 : i + 2]
                    if nxt.isdigit():  # octal, up to 3 digits
                        j = i + 1
                        while j < min(i + 4, n) and content[j : j + 1].isdigit():
                            j += 1
                        buf += bytes([int(content[i + 1 : j], 8) & 0xFF])
                        i = j
                        continue
                    buf += _PDF_ESCAPES.get(nxt, nxt)
                    i += 2
                    continue
                if ch == b"(":
                    depth += 1
                elif ch == b")":
                    depth -= 1
                    if not depth:
                        i += 1
                        break
                buf += ch
                i += 1
            yield ("str", bytes(buf))
        elif c == b"[":
            # recurse over the bracketed slice
            depth, j = 1, i + 1
            while j < n and depth:
                cj = content[j : j + 1]
                if cj == b"(":  # skip strings (may contain brackets)
                    j += 1
                    sdepth = 1
                    while j < n and sdepth:
                        if content[j : j + 1] == b"\\":
                            j += 2
                            continue
                        if content[j : j + 1] == b"(":
                            sdepth += 1
                        elif content[j : j + 1] == b")":
                            sdepth -= 1
                        j += 1
                    continue
                if cj == b"[":
                    depth += 1
                elif cj == b"]":
                    depth -= 1
                j += 1
            yield ("arr", list(_tokenize(content[i + 1 : j - 1])))
            i = j
        elif c == b"/":
            j = i + 1
            while j < n and not content[j : j + 1].isspace() and content[j : j + 1] not in b"()[]<>/":
                j += 1
            yield ("name", content[i + 1 : j].decode("latin-1"))
            i = j
        elif c in b"+-." or c.isdigit():
            j = i
            while j < n and content[j : j + 1] in b"+-.0123456789":
                j += 1
            try:
                yield ("num", float(content[i:j]))
            except ValueError:
                pass
            i = j
        else:
            j = i
            while j < n and not content[j : j + 1].isspace() and content[j : j + 1] not in b"()[]<>/":
                j += 1
            if j > i:
                yield ("op", content[i:j].decode("latin-1"))
            i = max(j, i + 1)


def _runs_of_content(content: bytes) -> list[tuple[float, float, str]]:
    """Interpret text operators; return (x, y, text) show-runs."""
    runs: list[tuple[float, float, str]] = []
    stack: list = []
    tx = ty = 0.0
    lx = ly = 0.0  # line start (Td/TD/Tm move the *line* origin)
    leading = 0.0

    def show(raw: bytes):
        text = raw.decode("latin-1")
        if text:
            runs.append((tx, ty, text))

    for kind, val in _tokenize(content):
        if kind in ("str", "num", "arr", "name"):
            stack.append((kind, val))
            continue
        op = val
        if op == "Tf" and len(stack) >= 2:
            pass  # size irrelevant to extraction
        elif op == "TL" and stack and stack[-1][0] == "num":
            leading = stack[-1][1]
        elif op in ("Td", "TD") and len(stack) >= 2:
            dy = stack[-1][1]
            dx = stack[-2][1]
            lx, ly = lx + dx, ly + dy
            tx, ty = lx, ly
            if op == "TD":
                leading = -dy
        elif op == "Tm" and len(stack) >= 6:
            e, f = stack[-2][1], stack[-1][1]
            lx, ly = e, f
            tx, ty = lx, ly
        elif op == "T*":
            ly -= leading
            tx, ty = lx, ly
        elif op == "Tj" and stack and stack[-1][0] == "str":
            show(stack[-1][1])
        elif op == "'" and stack and stack[-1][0] == "str":
            ly -= leading
            tx, ty = lx, ly
            show(stack[-1][1])
        elif op == '"' and len(stack) >= 3 and stack[-1][0] == "str":
            ly -= leading
            tx, ty = lx, ly
            show(stack[-1][1])
        elif op == "TJ" and stack and stack[-1][0] == "arr":
            parts = [
                v.decode("latin-1") for k, v in stack[-1][1] if k == "str"
            ]
            show("".join(parts).encode("latin-1"))
        elif op == "BT":
            tx = ty = lx = ly = 0.0
        stack.clear()
    return runs


def _page_lines(runs: list[tuple[float, float, str]]) -> list[str]:
    """Runs → reading-order lines: detect a two-column layout via a wide
    gap in run x-origins, read each column top-down, columns left-right;
    same-y runs within a column join left-to-right."""
    if not runs:
        return []
    xs = sorted({x for x, _, _ in runs})
    split_at = None
    for a, b in zip(xs, xs[1:]):
        if b - a >= COLUMN_GAP_MIN:
            left = [r for r in runs if r[0] <= a]
            right = [r for r in runs if r[0] >= b]
            if left and right:
                split_at = (a + b) / 2.0
                break
    columns = (
        [[r for r in runs if r[0] < split_at], [r for r in runs if r[0] >= split_at]]
        if split_at is not None
        else [runs]
    )
    lines: list[str] = []
    for col in columns:
        by_y: dict[float, list[tuple[float, str]]] = {}
        for x, y, text in col:
            by_y.setdefault(round(y, 2), []).append((x, text))
        for y in sorted(by_y, reverse=True):
            parts = [t for _, t in sorted(by_y[y], key=lambda p: p[0])]
            line = " ".join(" ".join(parts).split())
            if line:
                lines.append(line)
    return lines


def extract_pdf_text(data: bytes) -> tuple[int, str]:
    """→ (n_pages, text): pages in /Kids order, lines in reading order,
    joined by newlines."""
    objects = _parse_objects(data)
    pages: list[int] = []  # content object numbers in page order
    kids_order: list[int] = []
    for num, (body, _payload) in objects.items():
        if b"/Type /Pages" in body or b"/Type/Pages" in body:
            m = _KIDS_RE.search(body)
            if m:
                kids_order = [
                    int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))
                ]
    page_nums = kids_order or sorted(
        n
        for n, (b, _p) in objects.items()
        if b"/Type /Page" in b and b"/Pages" not in b
    )
    for pn in page_nums:
        body = objects.get(pn, (b"", None))[0]
        m = _REF_RE.search(body)
        if m:
            pages.append(int(m.group(1)))
    all_lines: list[str] = []
    for cn in pages:
        content = _stream_data(objects.get(cn))
        if content is None:
            continue
        all_lines.extend(_page_lines(_runs_of_content(content)))
    return len(pages), "\n".join(all_lines)


def pdf_lines_of(text: str) -> list[str]:
    """Fixture chunking: 8-word lines of text.split(' ') — mirrored by the
    SQL oracle."""
    words = text.split(" ")
    return [
        " ".join(words[i : i + LINE_WORDS]) for i in range(0, len(words), LINE_WORDS)
    ]


def is_two_col(doc_id: int) -> bool:
    return doc_id % 4 == 1


def is_compressed(doc_id: int) -> bool:
    return doc_id % 5 != 2


def doc_pdf(doc_id: int, text: str) -> bytes:
    return make_pdf(
        pdf_lines_of(text),
        two_col=is_two_col(doc_id),
        compress=is_compressed(doc_id),
    )
