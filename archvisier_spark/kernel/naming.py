"""Deterministic file-naming operators (X12–X15).

Reimplements, from observed behaviour:
* ``generate_new_filename`` — gui/processing_worker.py:311-349 (golden:
  ``1_Sygnatura_123-MINISTERSTWO-UMOWA-w-sprawie.pdf``,
  tests/test_generate_new_filename.py:41-44).
* ``sanitize_filename`` — gui/pdf_processor_app.py:180-214 (ASCII ``\\w``
  scrub: ``żółć.txt → ____.txt``, tests/test_handle_file_copy.py:47-55).
"""

from __future__ import annotations

import posixpath
import re
from typing import Mapping, MutableMapping

# gui/pdf_processor_app.py:181 — control chars and Windows-reserved chars.
_DISALLOWED = re.compile(r"[<>:\"/\\|?*\x00-\x1F]")
# gui/processing_worker.py:325 — chars stripped from metadata parts.
_PART_SCRUB = re.compile(r"[\\/*?:\"<>|]")
# gui/pdf_processor_app.py:193 — ASCII-only \w keeps [A-Za-z0-9_.-].
_NON_ASCII_WORD = re.compile(r"[^\w.-]", flags=re.ASCII)


def sanitize_filename(filename: str) -> str | None:
    """ASCII-scrub a filename; ``None`` when still unsafe (skip the file)."""
    safe = posixpath.basename(filename.replace("\\", "/"))
    safe = _NON_ASCII_WORD.sub("_", safe)
    if _DISALLOWED.search(safe):
        return None
    return safe


def _clean_part(value: str) -> str:
    return _PART_SCRUB.sub("", value).strip()


def generate_new_filename(
    info: Mapping[str, str],
    doc_type: str,
    counters: MutableMapping[str, int],
) -> str:
    """Build ``lp[_Sygnatura][_numer-NADAWCA-TYP-w-sprawie].pdf``.

    Bumps ``counters[doc_type or "LP"]`` — with sorted input this is
    exactly ``row_number() OVER (PARTITION BY mode ORDER BY url)`` in the
    Spark pipeline (SURVEY.md §2.6 A2).  All-empty metadata yields
    ``dokument_do_weryfikacji_{lp}.pdf``.
    """
    key = doc_type or "LP"
    num = counters.get(key, 0) + 1
    counters[key] = num
    return filename_for(info, num)


def name_stem(info: Mapping[str, str]) -> str:
    """The ``lp``-independent part of the new filename:
    ``[_Sygnatura][_numer-NADAWCA-TYP-w-sprawie]``, ``""`` when every
    metadata part is empty after scrubbing.

    Depends on the extracted metadata only, so the extraction pass can
    compute it per document before any sequence number exists; the Spark
    pipeline then composes the name in the JVM (``pipeline/extract.
    new_name_col``) with the same rule as :func:`compose_filename`.
    """
    sygnatura = _clean_part(info.get("sygnatura_sprawy", "")).replace(" ", "_")
    numer = _clean_part(info.get("numer_dokumentu", "")).replace(" ", "-")
    nadawca = _clean_part(info.get("nadawca_odbiorca", "")).upper().replace(" ", "-")[:30]
    typ = _clean_part(info.get("typ_dokumentu", "")).upper().replace(" ", "-")
    w_sprawie = _clean_part(info.get("w_sprawie", "")).replace(" ", "-")[:50]

    stem = f"_{sygnatura}" if sygnatura else ""
    hyphen_parts = [p for p in (numer, nadawca, typ, w_sprawie) if p]
    if hyphen_parts:
        stem += "_" + "-".join(hyphen_parts)
    return stem


def compose_filename(num: int, stem: str) -> str:
    """``{num}{stem}.pdf``; an empty stem (no usable metadata) yields
    ``dokument_do_weryfikacji_{num}.pdf``."""
    if not stem:
        return f"dokument_do_weryfikacji_{num}.pdf"
    return f"{num}{stem}.pdf"


def filename_for(info: Mapping[str, str], num: int) -> str:
    """Pure naming given an already-assigned sequence number ``num``.

    Split out of :func:`generate_new_filename` so the Spark pipeline can
    feed a window-function ``row_number`` instead of a mutable counter.
    """
    return compose_filename(num, name_stem(info))


# gui/constants.py:9-13 — per-mode display patterns for the year-scoped
# document number.  SA (arbitration court) formats differently AND keeps
# its counters in a separate dict (gui/pdf_processor_app.py:596-601).
DOC_TYPE_LABELS = {
    "KP": "Korespondencja Przychodząca (KP)",
    "KW": "Korespondencja Wychodząca (KW)",
    "SA": "Sąd Arbitrażowy (SA)",
}
TYPE_PATTERNS = {
    "KP": "KP/{num}/{year}",
    "KW": "KW/{num}/{year}",
    "SA": "SA{num}_{year}",
}
_DEFAULT_PATTERN = "{mode}/{num}/{year}"


def counter_key(work_mode: str, year: int) -> str:
    """Year-scoped counter key — gui/pdf_processor_app.py:601:
    ``counters[f"{work_mode}/{year}"]``."""
    return f"{work_mode}/{year}"


def display_number(work_mode: str, num: int, year: int) -> str:
    """Render the per-mode display number (``KP/{num}/{year}``,
    ``SA{num}_{year}``) per gui/constants.py TYPE_PATTERNS; unknown modes
    fall back to the slash form."""
    pattern = TYPE_PATTERNS.get(work_mode, _DEFAULT_PATTERN)
    return pattern.format(mode=work_mode, num=num, year=year)


def next_display_number(
    work_mode: str,
    year: int,
    counters: MutableMapping[str, int],
    sa_counters: MutableMapping[str, int],
) -> str:
    """Sequential reference semantics: bump the year-scoped counter in the
    mode-appropriate dict (SA separate) and render its display pattern —
    the loop the Spark window form is differential-tested against."""
    bucket = sa_counters if work_mode == "SA" else counters
    key = counter_key(work_mode, year)
    num = bucket.get(key, 0) + 1
    bucket[key] = num
    return display_number(work_mode, num, year)


def live_rename(lp: str, data: str, typ: str, nadawca: str) -> str:
    """X15 interactive rename (gui/pdf_processor_app.py:849-850):
    ``{lp}_{data}_{typ}_{nadawca}`` with leading/trailing underscores
    stripped, ``.pdf`` suffixed, then disallowed chars → ``_``."""
    name = f"{lp}_{data}_{typ}_{nadawca}".strip("_") + ".pdf"
    return _DISALLOWED.sub("_", name)
