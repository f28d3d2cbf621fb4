"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed (for ``ocr_cold``, of its
seed and of the bitmaps already handed out in the session), writes plain
parquet with pyarrow, and returns the source of truth the output checks
compare against. The program under test only ever sees the written files.

Texts mimic the sf0.1 ``documents`` table the repository's tests use:
words drawn from the same 30-word vocabulary, 10-100 words per doc, five
languages, twenty sources, and 5% near-duplicates (a copy of an earlier
doc with " dup" appended) so curation's dedup has work to do. Every table
is written as ``PARTS`` parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_EVERY = 20  # every 20th doc is a near-copy of an earlier one

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

PARTS = 8  # files per generated table

COLD_SCALE = 4
COLD_SALT_RATE = 0.01  # the default face's pinned noise budget
COLD_LINES = 3


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng([int(p) for p in parts])


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n))


def sf_texts(seed: int, n_docs: int, words: tuple[int, int] = (10, 100)) -> list[dict]:
    """sf0.1-shaped (doc_id, text, lang, source, n_chars) rows. Text
    lengths are spread evenly over ``words`` (lo, hi) and shuffled by the
    seed, so the total amount of text, and with it the work in a run,
    does not depend on the seed."""
    rng = _rng(seed, 1)
    lo, hi = words
    lengths = [lo + (hi - lo) * i // max(1, n_docs - 1) for i in range(n_docs)]
    rng.shuffle(lengths)
    rows: list[dict] = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            # near-copies at fixed places, never of another copy: the
            # dedup graph (and with it curation's work) is the same for
            # every seed
            text = rows[i - DUP_EVERY // 2]["text"] + " dup"
        else:
            text = " ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=lengths[i]))
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": LANGS[int(rng.choice(len(LANGS), p=LANG_P))],
                "source": f"src{i % N_SOURCES}",
                "n_chars": len(text),
            }
        )
    return rows


def write_parts(table: pa.Table, path: str, parts: int = PARTS) -> None:
    """``table`` as ``parts`` parquet files under directory ``path`` — the
    many-file shape a real input arrives in, so Spark's file splits spread
    the work over every core."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _write_docs_media(out_dir: str, docs: list, media: list) -> None:
    write_parts(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs]),
                "spans": pa.array([s for _, s in docs], pa.list_(SPAN_TYPE)),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    _write_media(out_dir, media)


def _write_media(out_dir: str, media: list) -> None:
    write_parts(
        pa.table(
            {
                "media_ref": pa.array([m for m, _ in media]),
                "png": pa.array([p for _, p in media], pa.binary()),
            }
        ),
        os.path.join(out_dir, "media.parquet"),
    )


def _doc_spans(before: str, ref: str, after: str) -> list[dict]:
    return [
        {"kind": "text", "text": before, "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": ref, "offset": 10},
        {"kind": "text", "text": after, "media_ref": None, "offset": 20},
    ]


def expected_spans(docs: list, media_text: dict) -> list[tuple]:
    """(doc_id, seq, text, media_ref) the extraction must produce: every
    span in offset order, media spans carrying their source text."""
    out = []
    for doc_id, spans in docs:
        for seq, s in enumerate(sorted(spans, key=lambda s: s["offset"])):
            ref = s["media_ref"]
            out.append((doc_id, seq, media_text[ref] if ref else s["text"], ref))
    return out


# ---------------------------------------------------------------------------
# ocr_cold: salted 3-line renders whose glyph bitmaps never repeat
# ---------------------------------------------------------------------------


class ColdImages:
    """Hands out salted renders whose glyph bitmaps are all distinct
    within one session.

    The OCR kernel's worker-local glyph cache keys on (id of the
    broadcast model copy, bitmap), and whether a later repetition's
    broadcast copy reuses an earlier id is up to the allocator. So a
    repeated bitmap could turn into a cache hit unpredictably; this
    generator makes sure none repeats. Each glyph component's bitmap is
    its clean render minus the salt dropouts inside it (at scale 4 every
    stroke is 4 px wide, so one dropout never splits a component). The
    component is identified by its clean bitmap and the set of dropped
    pixels; a component whose identity was already handed out gets one
    more seeded dropout until it is new.
    """

    def __init__(self) -> None:
        self.seen: set = set()
        self._comps: dict = {}
        self.topped_up = 0

    def _glyph_components(self, ch: str) -> list:
        if ch not in self._comps:
            from newocr_spark.font.glyphs import DEFAULT_FACE
            from newocr_spark.kernel.ccl import connected_components

            s = COLD_SCALE
            pieces = []
            for c in connected_components(DEFAULT_FACE.glyphs[ch]):
                mask = np.kron(c.grid, np.ones((s, s), dtype=bool))
                ident = (c.grid.shape, c.grid.tobytes())
                pieces.append((c.y * s, c.x * s, mask, ident))
            self._comps[ch] = pieces
        return self._comps[ch]

    def _glyph_origins(self, lines: list[str]):
        """(char, top, left) of every inked glyph at scale 1, following
        font.render's layout: 1 row of top margin, MARGIN_LEFT columns,
        tracking between glyphs, spaces advance space_width + tracking."""
        from newocr_spark.font.glyphs import DEFAULT_FACE as face, MARGIN_LEFT

        for i, line in enumerate(lines):
            top = 1 + i * (face.cell_height + face.line_gap)
            x, first = 0, True
            for ch in line:
                if ch == " ":
                    x += face.space_width + face.tracking
                    first = True
                    continue
                if not first:
                    x += face.tracking
                yield ch, top, MARGIN_LEFT + x
                x += face.glyphs[ch].shape[1]
                first = False

    def image(self, lines: list[str], seed: int) -> np.ndarray:
        from newocr_spark.font.perturb import salt
        from newocr_spark.font.render import render_text_image

        s = COLD_SCALE
        img = salt(render_text_image(lines, scale=s), COLD_SALT_RATE, seed)
        rng = _rng(seed, 3)
        for ch, top, left in self._glyph_origins(lines):
            for dy, dx, mask, ident in self._glyph_components(ch):
                y0, x0 = top * s + dy, left * s + dx
                region = img[y0 : y0 + mask.shape[0], x0 : x0 + mask.shape[1]]
                while True:
                    key = (ident, (mask & (region == 255)).tobytes())
                    if key not in self.seen:
                        break
                    ink = np.flatnonzero(mask & (region == 0))
                    region.flat[ink[int(rng.integers(len(ink)))]] = 255
                    self.topped_up += 1
                self.seen.add(key)
        return img


def cold_lines(rng: np.random.Generator) -> list[str]:
    return [_words(rng, 16, 20) for _ in range(COLD_LINES)]


def cold_inputs(out_dir: str, seed: int, rep: int, n_images: int, images: ColdImages) -> dict:
    """``n_images`` docs of text / salted 3-line image / text; each image
    has its own salt seed and no glyph bitmap seen earlier in the session."""
    from newocr_spark.codecs.png import encode_png

    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 4, rep + 1)  # rep -1 is the warm-up
    docs, media, media_text, mpix = [], [], {}, 0.0
    for i in range(n_images):
        lines = cold_lines(rng)
        img = images.image(lines, seed=int(rng.integers(1 << 62)))
        mpix += img.size / 1e6
        ref = f"c-{rep:03d}-{i:05d}"
        media.append((ref, encode_png(img)))
        media_text[ref] = "\n".join(lines)
        docs.append((f"doc-{rep:03d}-{i:05d}", _doc_spans(_words(rng, 3, 6), ref, _words(rng, 3, 6))))
    _write_docs_media(out_dir, docs, media)
    return {"docs": docs, "media_text": media_text, "images": n_images, "mpix": mpix}


# ---------------------------------------------------------------------------
# crawl_job: replicated HTML pages and PDFs, one figure per page
# ---------------------------------------------------------------------------


def crawl_inputs(out_dir: str, seed: int, n_base: int, replicate: int) -> dict:
    """``n_base`` sf texts, each crawled ``replicate`` times under distinct
    doc ids: one HTML page (``web.htmlgen.page_html``) and one PDF
    (``web.pdf.doc_pdf``) per doc id, the crawl's (doc_id, lang, source)
    metadata, and the media table of the pages' figures — a clean
    single-line render of the page's text at scale 1 + i % 2 (the corpus
    shape of the repository's ``bench.py``). Doc ids are multiples of
    ``MEDIA_EVERY``, so every page embeds its figure."""
    from newocr_spark.codecs.png import encode_png
    from newocr_spark.font.render import render_text_image
    from newocr_spark.web.htmlgen import MEDIA_EVERY, page_html
    from newocr_spark.web.pdf import doc_pdf

    os.makedirs(out_dir, exist_ok=True)
    base = sf_texts(seed, n_base)
    figures, mpix = [], 0.0
    for i, row in enumerate(base):
        img = render_text_image([row["text"]], scale=1 + i % 2)
        mpix += img.size / 1e6
        figures.append(encode_png(img))
    rows, media, media_text = [], [], {}
    for r in range(replicate):
        for i, row in enumerate(base):
            doc_id = MEDIA_EVERY * (r * n_base + i)
            ref = f"m-{doc_id:06d}"
            rows.append({**row, "doc_id": doc_id})
            media.append((ref, figures[i]))
            media_text[ref] = row["text"]
    ids = [f"doc-{r['doc_id']:06d}" for r in rows]
    pages = [page_html(r["doc_id"], r["text"]) for r in rows]
    write_parts(
        pa.table({"doc_id": pa.array(ids), "html": pa.array(pages)}),
        os.path.join(out_dir, "pages.parquet"),
    )
    write_parts(
        pa.table({"doc_id": pa.array(ids),
                  "pdf": pa.array([doc_pdf(r["doc_id"], r["text"]) for r in rows], pa.binary())}),
        os.path.join(out_dir, "pdfs.parquet"),
    )
    write_parts(
        pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "lang": pa.array([r["lang"] for r in rows]),
            "source": pa.array([r["source"] for r in rows]),
        }),
        os.path.join(out_dir, "meta.parquet"),
    )
    _write_media(out_dir, media)
    return {
        "rows": rows, "pages": len(rows), "images": len(media), "mpix": mpix * replicate,
        "media_text": media_text,
        "media_doc": {m: (f"doc-{int(m[2:]):06d}", 0) for m, _ in media},
    }
