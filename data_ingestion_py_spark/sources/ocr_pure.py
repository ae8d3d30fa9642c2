"""OCR-lite: deterministic bitmap-font glyph matching over decoded
rasters — the extras-free closure of the reference's scanned-PDF OCR
branch (data_ingestion.py:136-168), r13 VERDICT task #5.

The reference rasterizes empty-text PDF pages and runs tesseract on
them. This container has no tesseract; what it DOES have (r12-r13) is
real in-container raster decode — baseline/progressive JPEG, PNG, TIFF,
BMP, WebP-lossless — and scanned-PDF image XObject extraction
(``sources/pdf_pure.extract_page_images``). This module supplies the
recognition step for the class of scans a pipeline can recognize
deterministically: pages typeset in a KNOWN bitmap font. Each glyph is
a grid of 8×8-pixel cells (exactly the block granularity a DC-only
JPEG renders flat, so the whole path PDF → /DCTDecode XObject → JPEG
kernel → raster → text is exercisable with planted fixtures whose
expected text an oracle recomputes arithmetically).

Honesty contract: this is NOT general OCR. ``match_glyph_grid`` in
strict mode returns None unless every glyph cell matches a font
template EXACTLY after thresholding — a real-world scan is refused
(``extract_pages`` leaves its text empty) instead of yielding garbage. The
non-strict mode (nearest template by Hamming distance with a bounded
reject) exists for rasters that went through a lossy-but-flat-block
round trip.

Scale shape: pure numpy over one raster at a time, called from the
Arrow ``mapInPandas`` stages in ``sources/pdf.py`` — per-row kernel
work, no shuffle, no Python row loops outside the glyph grid itself.
"""

from __future__ import annotations

import numpy as np

from data_ingestion_py_spark.sources.bits import none_on_refusal

# ---------------------------------------------------------------------------
# The house bitmap font: digits 0-9 at 3 rows × 2 cols of cells.
# Each cell is 1 = ink (dark, pixel < threshold) / 0 = paper. The ten
# 6-bit patterns are pairwise distinct (minimum Hamming distance 1),
# chosen loosely after seven-segment shapes. A glyph rendered at cell
# size (8, 8) is 24×16 pixels — two JPEG blocks wide, three tall.
# ---------------------------------------------------------------------------

DIGIT_TEMPLATES: dict[str, tuple[tuple[int, ...], ...]] = {
    "0": ((1, 1), (1, 1), (1, 1)),
    "1": ((0, 1), (0, 1), (0, 1)),
    "2": ((1, 1), (0, 1), (1, 0)),
    "3": ((1, 1), (0, 1), (1, 1)),
    "4": ((1, 0), (1, 1), (0, 1)),
    "5": ((1, 1), (1, 0), (0, 1)),
    "6": ((1, 0), (1, 1), (1, 1)),
    "7": ((1, 1), (0, 1), (0, 1)),
    "8": ((0, 1), (1, 1), (1, 1)),
    "9": ((1, 1), (1, 1), (0, 1)),
}

#: Digits + sentence punctuation + inter-word space. NOT the default:
#: with a space glyph (all-paper) a strictly-blank region reads as
#: whitespace instead of refusing, which is the right behavior only
#: when the caller KNOWS the page is typeset in this font — the PDF
#: ingestion fallback tries only the strict digit and A-Z/0-9 fonts so
#: unknown scans are still refused.
TEXT_TEMPLATES: dict[str, tuple[tuple[int, ...], ...]] = {
    **DIGIT_TEMPLATES,
    ".": ((0, 0), (0, 0), (1, 0)),
    " ": ((0, 0), (0, 0), (0, 0)),
}

# ---------------------------------------------------------------------------
# The full alphanumeric house font (r14, VERDICT task #3): A-Z, 0-9,
# '.', ' ' at 4 rows × 3 cols of cells (32×24 px at the 8×8 cell) —
# enough for scanned pages to carry real WORDS into the downstream
# quality/dedup operators. Shapes are loosely letter-like; the load-
# bearing property is a minimum pairwise Hamming distance of 3
# (machine-verified in tests/test_ocr_pure.py) — radius-1 Hamming
# spheres are disjoint, so a single flipped cell can NEVER read as a
# different glyph: strict mode refuses, and non-strict max_hamming=1
# decodes it back to the unique intended template.
# ---------------------------------------------------------------------------

ALNUM_TEMPLATES: dict[str, tuple[tuple[int, ...], ...]] = {
    " ": ((0, 0, 0), (0, 0, 0), (0, 0, 0), (0, 0, 0)),
    ".": ((1, 0, 0), (0, 0, 0), (0, 0, 0), (1, 1, 0)),
    "0": ((1, 1, 0), (1, 0, 1), (0, 0, 1), (1, 1, 1)),
    "1": ((0, 1, 0), (1, 1, 0), (0, 1, 0), (0, 1, 0)),
    "2": ((1, 0, 0), (0, 0, 1), (0, 1, 0), (1, 1, 1)),
    "3": ((1, 1, 1), (0, 0, 1), (0, 1, 1), (1, 1, 0)),
    "4": ((1, 0, 1), (1, 0, 1), (1, 1, 1), (0, 0, 1)),
    "5": ((0, 0, 1), (1, 0, 0), (0, 1, 1), (1, 1, 0)),
    "6": ((0, 0, 0), (0, 1, 1), (1, 0, 1), (1, 1, 1)),
    "7": ((1, 1, 1), (0, 0, 1), (0, 0, 1), (0, 0, 1)),
    "8": ((0, 1, 1), (0, 1, 1), (1, 0, 1), (1, 1, 0)),
    "9": ((0, 1, 1), (0, 0, 1), (1, 1, 1), (0, 0, 1)),
    "A": ((0, 1, 0), (1, 0, 1), (1, 1, 1), (1, 0, 1)),
    "B": ((1, 1, 0), (1, 1, 1), (1, 0, 1), (1, 1, 0)),
    "C": ((0, 1, 1), (1, 0, 0), (1, 0, 0), (0, 1, 1)),
    "D": ((1, 0, 0), (0, 0, 1), (1, 0, 1), (1, 1, 0)),
    "E": ((1, 1, 1), (1, 1, 0), (1, 0, 0), (1, 1, 1)),
    "F": ((1, 1, 1), (1, 0, 0), (1, 1, 0), (1, 0, 0)),
    "G": ((0, 0, 0), (1, 0, 0), (1, 0, 1), (0, 1, 1)),
    "H": ((1, 0, 1), (1, 1, 1), (1, 0, 1), (1, 0, 1)),
    "I": ((1, 1, 1), (0, 1, 0), (0, 1, 0), (1, 1, 1)),
    "J": ((0, 0, 1), (0, 0, 1), (1, 0, 1), (0, 1, 0)),
    "K": ((1, 0, 1), (1, 1, 0), (1, 1, 0), (1, 0, 1)),
    "L": ((1, 0, 0), (1, 0, 0), (1, 0, 0), (1, 1, 1)),
    "M": ((0, 1, 1), (1, 1, 0), (1, 0, 1), (1, 0, 1)),
    "N": ((0, 0, 1), (0, 1, 1), (1, 1, 1), (1, 0, 1)),
    "O": ((0, 1, 0), (1, 0, 1), (1, 0, 1), (0, 1, 0)),
    "P": ((1, 1, 0), (0, 0, 1), (1, 1, 0), (1, 0, 0)),
    "Q": ((0, 0, 0), (1, 0, 1), (0, 1, 1), (0, 0, 1)),
    "R": ((1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 0, 1)),
    "S": ((0, 1, 1), (1, 1, 0), (0, 0, 1), (1, 1, 0)),
    "T": ((1, 0, 1), (0, 1, 0), (0, 1, 0), (0, 1, 0)),
    "U": ((0, 0, 1), (1, 0, 1), (1, 0, 1), (1, 1, 1)),
    "V": ((1, 0, 1), (1, 0, 0), (1, 0, 1), (0, 1, 0)),
    "W": ((1, 0, 1), (1, 0, 0), (1, 1, 1), (1, 1, 1)),
    "X": ((0, 0, 1), (0, 1, 0), (0, 1, 0), (1, 0, 1)),
    "Y": ((1, 0, 1), (1, 0, 1), (0, 1, 0), (0, 1, 0)),
    "Z": ((0, 1, 1), (0, 0, 1), (0, 1, 0), (1, 1, 1)),
}


def _pool_cells(gray: np.ndarray, cell: tuple[int, int]) -> np.ndarray:
    """Average-pool a (H, W) uint8 raster to cell means — H and W must
    be multiples of the cell dims (the caller crops)."""
    ch, cw = cell
    h, w = gray.shape
    return (
        gray.astype(np.int64)
        .reshape(h // ch, ch, w // cw, cw)
        .mean(axis=(1, 3))
    )


def match_glyph_grid(
    gray: np.ndarray,
    templates: dict[str, tuple[tuple[int, ...], ...]] | None = None,
    cell: tuple[int, int] = (8, 8),
    threshold: int = 128,
    strict: bool = True,
    max_hamming: int = 1,
) -> str | None:
    """Recognize a raster typeset as a grid of bitmap-font glyphs.

    The raster is average-pooled to ``cell``-sized bins and thresholded
    (mean < ``threshold`` → ink). Glyph windows tile left-to-right,
    top-to-bottom at the template's cell extent; each window matches
    against every template. ``strict=True`` (the default — and the only
    mode the PDF ingestion fallback uses): ANY window that is not an
    exact template match fails the whole page with None, so real-world
    scans are refused instead of reading as garbage. ``strict=False``:
    nearest template by Hamming distance, ties to the lexicographically
    smaller char, distance > ``max_hamming`` → ``'?'``. Rows of glyphs join with ``'\\n'``."""
    if templates is None:
        templates = DIGIT_TEMPLATES
    if gray.ndim != 2:
        return None
    shapes = {np.asarray(t).shape for t in templates.values()}
    if len(shapes) != 1:
        raise ValueError("templates must share one shape")
    th, tw = shapes.pop()
    ch, cw = cell
    gh, gw = th * ch, tw * cw  # glyph extent in pixels
    rows, cols = gray.shape[0] // gh, gray.shape[1] // gw
    if rows == 0 or cols == 0:
        return None
    ink = (
        _pool_cells(gray[: rows * gh, : cols * gw], cell) < threshold
    ).astype(np.int8)
    names = sorted(templates)
    tmpl = np.array([templates[n] for n in names], dtype=np.int8)
    lines: list[str] = []
    for r in range(rows):
        chars: list[str] = []
        for c in range(cols):
            win = ink[r * th : (r + 1) * th, c * tw : (c + 1) * tw]
            dists = np.abs(tmpl - win[None, :, :]).sum(axis=(1, 2))
            best = int(dists.argmin())  # argmin ties → first = lexi-min
            if dists[best] == 0:
                chars.append(names[best])
            elif strict:
                return None
            elif dists[best] <= max_hamming:
                chars.append(names[best])
            else:
                chars.append("?")
        lines.append("".join(chars))
    return "\n".join(lines)


@none_on_refusal
def ocr_pdf_pages(
    content: bytes,
    strict: bool = True,
    templates: (
        dict[str, tuple[tuple[int, ...], ...]]
        | list[dict[str, tuple[tuple[int, ...], ...]] | None]
        | None
    ) = None,
) -> list[str] | None:
    """Bitmap-font OCR of a scanned PDF: extract every page's image
    XObjects (``pdf_pure.extract_page_images``), decode them with the
    in-container kernels (JPEG via ``decode_jpeg_array``, raw gray8
    as-is), and glyph-match each raster. ``templates`` may be one font
    dict or a LIST of fonts tried in order — the PDF is parsed and the
    rasters decoded exactly ONCE either way (r14: the two-font
    fallback used to re-run the whole extraction per font). Returns
    per-page text (images on a page join with ``'\\n'``) or None when
    no font reads every page — the caller's cue to refuse the scan.
    This is the reference's OCR loop (data_ingestion.py:136-168) made
    executable with no OCR library, for bitmap-font scans."""
    from data_ingestion_py_spark.sources.multimodal import decode_jpeg_array
    from data_ingestion_py_spark.sources.pdf_pure import (
        extract_page_images,
        parse_pdf_text,
    )

    tlist = templates if isinstance(templates, list) else [templates]
    imgs = extract_page_images(content)
    if not imgs:
        return None
    parsed = parse_pdf_text(content)
    n_pages = len(parsed[0]) if parsed else max(i[0] for i in imgs)
    rasters: list[tuple[int, np.ndarray]] = []
    for pno, _idx, _name, w, h, _bpc, kind, data in imgs:
        if kind == "jpeg":
            dw, dh, arr = decode_jpeg_array.__wrapped__(data)
            gray = np.asarray(arr, dtype=np.uint8).reshape(dh, dw)
        else:  # raw gray8, validated by extract_page_images
            gray = np.frombuffer(data, dtype=np.uint8).reshape(h, w)
        rasters.append((pno, gray))
    for tmpl in tlist:
        pages: list[list[str]] = [[] for _ in range(n_pages)]
        ok = True
        for pno, gray in rasters:
            text = match_glyph_grid(gray, templates=tmpl, strict=strict)
            if text is None:
                ok = False
                break
            pages[pno - 1].append(text)
        if ok and all(p for p in pages):
            return ["\n".join(p) for p in pages]
    return None
