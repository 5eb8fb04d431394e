"""Page/PDF layer types: segmented pages, text cells, rotated rectangles.

Dict-model equivalents of the reference page layer
(docling-core types/doc/page.py:50-900): `BoundingRectangle` quad geometry
(width/height/angle/angle_360/centre, bbox conversions, origin flips),
`TextCell`/`PdfTextCell`, `PageGeometry`/`PdfPageGeometry` (width/height/
origin from crop box), and `SegmentedPdfPage` with cell iteration,
bbox-filtered cell lookup (intersection-over-self), ordered text cropping,
textline export, and JSON round trip.  Rendering (`render_as_image`) needs
PIL and is intentionally out of scope in this runtime.

Users consuming upstream docling PDF output (parsed pages rather than
documents) land on these types first.
"""

from __future__ import annotations

import copy
import json
import math
from pathlib import Path
from typing import Any, Iterator, Optional, Union

from docling_core_spark.functions.geometry import intersection_over_self

BOTTOMLEFT = "BOTTOMLEFT"
TOPLEFT = "TOPLEFT"

CELL_UNITS = ("char", "word", "line")
_UNIT_TO_FIELD = {"char": "char_cells", "word": "word_cells", "line": "textline_cells"}


# ---------------------------------------------------------------------------
# BoundingRectangle (rotated quad) — reference page.py:103-258
# ---------------------------------------------------------------------------


def rectangle(
    r_x0: float, r_y0: float, r_x1: float, r_y1: float,
    r_x2: float, r_y2: float, r_x3: float, r_y3: float,
    coord_origin: str = BOTTOMLEFT,
) -> dict:
    """Four-corner oriented rectangle (p0→p1 is the baseline direction)."""
    return {
        "r_x0": r_x0, "r_y0": r_y0, "r_x1": r_x1, "r_y1": r_y1,
        "r_x2": r_x2, "r_y2": r_y2, "r_x3": r_x3, "r_y3": r_y3,
        "coord_origin": coord_origin,
    }


def rect_width(r: dict) -> float:
    return math.hypot(r["r_x1"] - r["r_x0"], r["r_y1"] - r["r_y0"])


def rect_height(r: dict) -> float:
    return math.hypot(r["r_x3"] - r["r_x0"], r["r_y3"] - r["r_y0"])


def rect_angle(r: dict) -> float:
    """Baseline angle in radians, normalized to [0, 2*pi)."""
    p0 = ((r["r_x0"] + r["r_x3"]) / 2.0, (r["r_y0"] + r["r_y3"]) / 2.0)
    p1 = ((r["r_x1"] + r["r_x2"]) / 2.0, (r["r_y1"] + r["r_y2"]) / 2.0)
    delta_x, delta_y = p1[0] - p0[0], p1[1] - p0[1]
    if r.get("coord_origin", BOTTOMLEFT) == TOPLEFT:
        delta_y = -delta_y
    if abs(delta_y) < 1.0e-3:
        angle = 0.0
    elif abs(delta_x) < 1.0e-3:
        angle = math.pi / 2.0 if delta_y > 0 else -math.pi / 2.0
    else:
        angle = math.atan(delta_y / delta_x)
    if delta_x < 0:
        angle += math.pi
    return angle % (2 * math.pi)


def rect_angle_360(r: dict) -> int:
    return round(rect_angle(r) / math.pi * 180)


def rect_centre(r: dict) -> tuple[float, float]:
    return (
        (r["r_x0"] + r["r_x1"] + r["r_x2"] + r["r_x3"]) / 4.0,
        (r["r_y0"] + r["r_y1"] + r["r_y2"] + r["r_y3"]) / 4.0,
    )


def rect_to_bbox(r: dict) -> dict:
    ys = [r["r_y0"], r["r_y1"], r["r_y2"], r["r_y3"]]
    xs = [r["r_x0"], r["r_x1"], r["r_x2"], r["r_x3"]]
    origin = r.get("coord_origin", BOTTOMLEFT)
    if origin == BOTTOMLEFT:
        top, bottom = max(ys), min(ys)
    else:
        top, bottom = min(ys), max(ys)
    return {"l": min(xs), "b": bottom, "r": max(xs), "t": top, "coord_origin": origin}


def rect_from_bbox(bb: dict) -> dict:
    return rectangle(
        r_x0=bb["l"], r_y0=bb["b"], r_x1=bb["r"], r_y1=bb["b"],
        r_x2=bb["r"], r_y2=bb["t"], r_x3=bb["l"], r_y3=bb["t"],
        coord_origin=bb.get("coord_origin", BOTTOMLEFT),
    )


def rect_to_polygon(r: dict) -> list[tuple[float, float]]:
    return [
        (r["r_x0"], r["r_y0"]), (r["r_x1"], r["r_y1"]),
        (r["r_x2"], r["r_y2"]), (r["r_x3"], r["r_y3"]),
    ]


def _flip_origin(r: dict, page_height: float, target: str) -> dict:
    if r.get("coord_origin", BOTTOMLEFT) == target:
        return r
    out = dict(r)
    for k in ("r_y0", "r_y1", "r_y2", "r_y3"):
        out[k] = page_height - r[k]
    out["coord_origin"] = target
    return out


def rect_to_bottom_left_origin(r: dict, page_height: float) -> dict:
    return _flip_origin(r, page_height, BOTTOMLEFT)


def rect_to_top_left_origin(r: dict, page_height: float) -> dict:
    return _flip_origin(r, page_height, TOPLEFT)


# ---------------------------------------------------------------------------
# TextCell — reference page.py:280-348
# ---------------------------------------------------------------------------


def text_cell(
    rect: dict,
    text: str,
    orig: Optional[str] = None,
    from_ocr: bool = False,
    confidence: float = 1.0,
    text_direction: str = "left_to_right",
    index: int = -1,
    **extra: Any,
) -> dict:
    """Text cell at char/word/line granularity."""
    return {
        "rect": rect,
        "text": text,
        "orig": orig if orig is not None else text,
        "from_ocr": from_ocr,
        "confidence": confidence,
        "text_direction": text_direction,
        "index": index,
        **extra,
    }


def cell_to_bbox(cell: dict) -> dict:
    return rect_to_bbox(cell["rect"])


# ---------------------------------------------------------------------------
# Page geometry — reference page.py:541-629
# ---------------------------------------------------------------------------


def page_geometry(angle: float, rect: dict) -> dict:
    return {"angle": angle, "rect": rect}


def pdf_page_geometry(
    angle: float,
    rect: dict,
    boundary_type: str = "crop_box",
    art_bbox: Optional[dict] = None,
    bleed_bbox: Optional[dict] = None,
    crop_bbox: Optional[dict] = None,
    media_bbox: Optional[dict] = None,
    trim_bbox: Optional[dict] = None,
) -> dict:
    """PDF page geometry; width/height/origin derive from crop_bbox."""
    base = rect_to_bbox(rect)
    return {
        "angle": angle,
        "rect": rect,
        "boundary_type": boundary_type,
        "art_bbox": art_bbox or dict(base),
        "bleed_bbox": bleed_bbox or dict(base),
        "crop_bbox": crop_bbox or dict(base),
        "media_bbox": media_bbox or dict(base),
        "trim_bbox": trim_bbox or dict(base),
    }


def geometry_width(dim: dict) -> float:
    if "crop_bbox" in dim:
        bb = dim["crop_bbox"]
        return abs(bb["r"] - bb["l"])
    return rect_width(dim["rect"])


def geometry_height(dim: dict) -> float:
    if "crop_bbox" in dim:
        bb = dim["crop_bbox"]
        return abs(bb["t"] - bb["b"])
    return rect_height(dim["rect"])


# ---------------------------------------------------------------------------
# SegmentedPdfPage — reference page.py:631-900
# ---------------------------------------------------------------------------


class SegmentedPage:
    """Segmented page: text cells at three granularities + page resources."""

    def __init__(
        self,
        dimension: dict,
        char_cells: Optional[list[dict]] = None,
        word_cells: Optional[list[dict]] = None,
        textline_cells: Optional[list[dict]] = None,
        bitmap_resources: Optional[list[dict]] = None,
        widgets: Optional[list[dict]] = None,
        hyperlinks: Optional[list[dict]] = None,
        shapes: Optional[list[dict]] = None,
        image: Optional[dict] = None,
        has_chars: bool = False,
        has_words: bool = False,
        has_lines: bool = False,
    ):
        self.dimension = dimension
        self.char_cells = char_cells or []
        self.word_cells = word_cells or []
        self.textline_cells = textline_cells or []
        self.bitmap_resources = bitmap_resources or []
        self.widgets = widgets or []
        self.hyperlinks = hyperlinks or []
        self.shapes = shapes or []
        self.image = image
        # reference validate_page: non-empty lists force the computed flags
        self.has_chars = has_chars or bool(self.char_cells)
        self.has_words = has_words or bool(self.word_cells)
        self.has_lines = has_lines or bool(self.textline_cells)

    @property
    def height(self) -> float:
        return geometry_height(self.dimension)

    @property
    def width(self) -> float:
        return geometry_width(self.dimension)

    def iterate_cells(self, unit_type: str) -> Iterator[dict]:
        if unit_type not in _UNIT_TO_FIELD:
            raise ValueError(f"incompatible {unit_type}")
        yield from getattr(self, _UNIT_TO_FIELD[unit_type])

    def get_cells_in_bbox(self, cell_unit: str, bbox: dict, ios: float = 0.8) -> list[dict]:
        """Cells whose bbox overlaps `bbox` by more than `ios` of themselves."""
        out = []
        target = bbox.get("coord_origin", TOPLEFT)
        for cell in self.iterate_cells(cell_unit):
            pc = copy.deepcopy(cell)
            if pc["rect"].get("coord_origin", BOTTOMLEFT) != target:
                pc["rect"] = _flip_origin(pc["rect"], self.height, target)
            if intersection_over_self(cell_to_bbox(pc), bbox) > ios:
                out.append(pc)
        return out

    def crop_text(self, cell_unit: str, bbox: dict, eps: float = 1.0) -> str:
        """Text of cells fully inside `bbox` (bottom-left coords), stitched in
        index order; adjacent cells (within eps) concatenate without a space."""
        selection = []
        for cell in self.iterate_cells(cell_unit):
            cb = rect_to_bbox(rect_to_bottom_left_origin(cell["rect"], self.height))
            if bbox["l"] <= cb["l"] and cb["r"] <= bbox["r"] and bbox["b"] <= cb["b"] and cb["t"] <= bbox["t"]:
                selection.append(copy.deepcopy(cell))
        selection.sort(key=lambda c: c.get("index", -1))
        text = ""
        for i, cell in enumerate(selection):
            if i == 0:
                text += cell["text"]
            else:
                prev = selection[i - 1]
                adjacent = (
                    abs(cell["rect"]["r_x0"] - prev["rect"]["r_x1"]) < eps
                    and abs(cell["rect"]["r_y0"] - prev["rect"]["r_y1"]) < eps
                )
                text += cell["text"] if adjacent else " " + cell["text"]
        return text

    def export_to_textlines(
        self,
        cell_unit: str,
        add_location: bool = True,
        add_fontkey: bool = False,
        add_fontname: bool = True,
        add_text_direction: bool = True,
    ) -> list[str]:
        lines = []
        for cell in self.iterate_cells(cell_unit):
            line = ""
            r = cell["rect"]
            if add_location:
                line += f"({r['r_x0']:06.02f}, {r['r_y0']:06.02f}) "
                line += f"({r['r_x1']:06.02f}, {r['r_y1']:06.02f}) "
                line += f"({r['r_x2']:06.02f}, {r['r_y2']:06.02f}) "
                line += f"({r['r_x3']:06.02f}, {r['r_y3']:06.02f}) "
            if add_fontkey and "font_key" in cell:
                line += f"{cell['font_key']:>10} "
            if add_fontname and "font_name" in cell:
                line += f"{cell['font_name']:>10} "
            if add_text_direction and "font_name" in cell:
                line += f"{cell.get('text_direction', 'left_to_right')} "
            line += cell["text"]
            lines.append(line)
        return lines

    # -- (de)serialization ---------------------------------------------------

    def to_dict(self) -> dict:
        out: dict[str, Any] = {
            "dimension": self.dimension,
            "bitmap_resources": self.bitmap_resources,
            "char_cells": self.char_cells,
            "word_cells": self.word_cells,
            "textline_cells": self.textline_cells,
            "has_chars": self.has_chars,
            "has_words": self.has_words,
            "has_lines": self.has_lines,
            "widgets": self.widgets,
            "hyperlinks": self.hyperlinks,
            "shapes": self.shapes,
        }
        if self.image is not None:
            out["image"] = self.image
        return out

    def to_json(self, indent: int = 2) -> str:
        return json.dumps(self.to_dict(), indent=indent)

    @classmethod
    def from_dict(cls, d: dict) -> "SegmentedPage":
        return cls(
            dimension=d["dimension"],
            char_cells=d.get("char_cells"),
            word_cells=d.get("word_cells"),
            textline_cells=d.get("textline_cells"),
            bitmap_resources=d.get("bitmap_resources"),
            widgets=d.get("widgets"),
            hyperlinks=d.get("hyperlinks"),
            shapes=d.get("shapes") or d.get("lines"),
            image=d.get("image"),
            has_chars=d.get("has_chars", False),
            has_words=d.get("has_words", False),
            has_lines=d.get("has_lines", False),
        )

    @classmethod
    def from_json(cls, s: Union[str, bytes]) -> "SegmentedPage":
        return cls.from_dict(json.loads(s))

    def save_as_json(self, filename: Union[str, Path], indent: int = 2) -> None:
        Path(filename).write_text(self.to_json(indent=indent), encoding="utf-8")

    @classmethod
    def load_from_json(cls, filename: Union[str, Path]) -> "SegmentedPage":
        return cls.from_json(Path(filename).read_text(encoding="utf-8"))


SegmentedPdfPage = SegmentedPage  # PDF pages carry a pdf_page_geometry dimension


# ---------------------------------------------------------------------------
# PDF annotations: hyperlinks, widgets, bitmap resources, shapes
# (reference page.py:385-540)
# ---------------------------------------------------------------------------


def parse_hyperlink_uri(uri: Optional[str]):
    """URI coercion for PDF hyperlinks (reference page.py:401-416): absolute
    URIs parse as pydantic AnyUrl; relative paths / fragments / malformed
    values fall back to the raw string; None passes through."""
    if uri is None:
        return None
    try:
        from pydantic import AnyUrl

        return AnyUrl(uri)
    except Exception:
        return str(uri)


def pdf_hyperlink(rect: dict, uri: Optional[str] = None, **extra: Any) -> dict:
    """Hyperlink annotation (reference page.py:394-416)."""
    return {"rect": rect, "uri": parse_hyperlink_uri(uri), **extra}


def pdf_widget(rect: dict, **extra: Any) -> dict:
    """Interactive form widget (reference page.py:385-392)."""
    return {"rect": rect, **extra}


def bitmap_resource(rect: dict, mode: str = "placeholder", image: Optional[dict] = None) -> dict:
    """Bitmap image resource (reference page.py:418-441)."""
    out: dict[str, Any] = {"rect": rect, "mode": mode}
    if image is not None:
        out["image"] = image
    return out


def resource_to_bottom_left_origin(res: dict, page_height: float) -> dict:
    out = dict(res)
    out["rect"] = rect_to_bottom_left_origin(res["rect"], page_height)
    return out


def resource_to_top_left_origin(res: dict, page_height: float) -> dict:
    out = dict(res)
    out["rect"] = rect_to_top_left_origin(res["rect"], page_height)
    return out


def pdf_text_cell(rect: dict, text: str, **kw: Any) -> dict:
    """PDF text cell with font info (reference page.py:363-383).

    The legacy ``left_to_right`` flag normalizes into text_direction."""
    if "left_to_right" in kw:
        kw["text_direction"] = (
            "left_to_right" if kw.pop("left_to_right") else "right_to_left"
        )
    kw.setdefault("rendering_mode", 0)
    kw.setdefault("widget", False)
    kw.setdefault("font_key", "")
    kw.setdefault("font_name", "")
    return text_cell(rect, text, from_ocr=False, **kw)


def pdf_shape(
    parent_id: int,
    points: list[tuple[float, float]],
    coord_origin: str = BOTTOMLEFT,
    **graphics_state: Any,
) -> dict:
    """Vector shape (reference page.py:466-540)."""
    out: dict[str, Any] = {
        "parent_id": parent_id,
        "points": [tuple(p) for p in points],
        "coord_origin": coord_origin,
        "has_graphics_state": bool(graphics_state),
        "line_width": -1.0,
        "miter_limit": -1.0,
        "line_cap": -1,
        "line_join": -1,
        "dash_phase": 0.0,
        "dash_array": [],
        "flatness": -1.0,
        "rgb_stroking": {"r": 0, "g": 0, "b": 0, "a": 255},
        "rgb_filling": {"r": 0, "g": 0, "b": 0, "a": 255},
    }
    out.update(graphics_state)
    return out


def shape_segments(shape: dict) -> Iterator[tuple[tuple[float, float], tuple[float, float]]]:
    """Consecutive point pairs (reference page.py:505-511)."""
    pts = shape["points"]
    for k in range(len(pts) - 1):
        yield (tuple(pts[k]), tuple(pts[k + 1]))


def shape_to_bottom_left_origin(shape: dict, page_height: float) -> dict:
    if shape.get("coord_origin", BOTTOMLEFT) == BOTTOMLEFT:
        return shape
    out = dict(shape)
    out["points"] = [(x, page_height - y) for x, y in shape["points"]]
    out["coord_origin"] = BOTTOMLEFT
    return out


def shape_to_top_left_origin(shape: dict, page_height: float) -> dict:
    if shape.get("coord_origin", BOTTOMLEFT) == TOPLEFT:
        return shape
    out = dict(shape)
    out["points"] = [(x, page_height - y) for x, y in shape["points"]]
    out["coord_origin"] = TOPLEFT
    return out


# ---------------------------------------------------------------------------
# Parsed-document containers (reference page.py:1457-1584)
# ---------------------------------------------------------------------------


def parse_pdf_metadata_xml(xml: str) -> dict[str, str]:
    """Namespace-tag extraction from PDF XMP metadata XML
    (reference PdfMetaData.initialise, page.py:1464-1478)."""
    import re

    pattern = r"\<([a-zA-Z]+)\:([a-zA-Z]+)\>(.+?)\<\/([a-zA-Z]+)\:([a-zA-Z]+)\>"
    data: dict[str, str] = {}
    for ns_open, tag_open, content, ns_close, tag_close in re.findall(pattern, xml):
        if ns_open == ns_close and tag_open == tag_close:
            data[tag_open] = content
    return data


def pdf_table_of_contents(text: str, orig: str = "", marker: str = "",
                          children: Optional[list[dict]] = None) -> dict:
    """Hierarchical TOC entry (reference page.py:1480-1526)."""
    return {"text": text, "orig": orig, "marker": marker, "children": children or []}


class ParsedPdfDocument:
    """Fully parsed PDF: pages by number + metadata + TOC
    (reference page.py:1528-1584)."""

    def __init__(
        self,
        pages: Optional[dict[int, SegmentedPage]] = None,
        meta_data: Optional[dict] = None,
        table_of_contents: Optional[dict] = None,
    ):
        self.pages = pages or {}
        self.meta_data = meta_data
        self.table_of_contents = table_of_contents

    def iterate_pages(self) -> Iterator[tuple[int, SegmentedPage]]:
        yield from self.pages.items()

    def to_dict(self) -> dict:
        out: dict[str, Any] = {
            "pages": {str(no): page.to_dict() for no, page in self.pages.items()}
        }
        if self.meta_data is not None:
            out["meta_data"] = self.meta_data
        if self.table_of_contents is not None:
            out["table_of_contents"] = self.table_of_contents
        return out

    def save_as_json(self, filename: Union[str, Path], indent: int = 2) -> None:
        Path(filename).write_text(
            json.dumps(self.to_dict(), indent=indent, default=str), encoding="utf-8"
        )

    @classmethod
    def from_dict(cls, d: dict) -> "ParsedPdfDocument":
        return cls(
            pages={int(no): SegmentedPage.from_dict(p) for no, p in (d.get("pages") or {}).items()},
            meta_data=d.get("meta_data"),
            table_of_contents=d.get("table_of_contents"),
        )

    @classmethod
    def load_from_json(cls, filename: Union[str, Path]) -> "ParsedPdfDocument":
        return cls.from_dict(json.loads(Path(filename).read_text(encoding="utf-8")))
