"""Deterministic PDF-pipeline stages re-expressed as batch operators.

The reference PDF pipeline's non-ML stages (SURVEY.md §2.B) are pure
algorithms over (cells, clusters) per page; this module reimplements their
semantics from scratch so they can run vectorized per Arrow batch:

- text-quality scoring: garbage regexes + page parse_score = 10%-quantile
  of cell scores (``page_preprocessing_model.py:126-151``);
- layout postprocessing: confidence thresholds per label, label remap,
  cell->cluster best-overlap assignment (min 0.2), orphan clusters,
  overlap dedup via union-find (IoU/containment > 0.8), bbox tightening,
  3-iteration refinement (``utils/layout_postprocessor.py``);
- reading order: topological sort of clusters by above/left-of partial
  order with stable tie-breaks (the rule-based analog of the reference's
  ReadingOrderPredictor, ``readingorder_model.py:623-649``);
- assemble sanitation: hyphen de-break line joining, quote/bullet
  normalization, ligature expansion (``page_assemble_model.py:37-54,
  112-157``).

No rtree dependency: candidate pruning uses sort-sweep over intervals,
which is O(n log n) per page and matches the reference's dual interval
trees in effect.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterable, Iterator, Optional

from . import keep_spark_archives

# ------------------------------------------------------------- geometry


@dataclass
class BBox:
    l: float
    t: float
    r: float
    b: float

    def area(self) -> float:
        return max(0.0, self.r - self.l) * max(0.0, self.b - self.t)

    def intersection_area(self, o: "BBox") -> float:
        w = min(self.r, o.r) - max(self.l, o.l)
        h = min(self.b, o.b) - max(self.t, o.t)
        return max(0.0, w) * max(0.0, h)

    def iou(self, o: "BBox") -> float:
        inter = self.intersection_area(o)
        union = self.area() + o.area() - inter
        return inter / union if union > 0 else 0.0

    def intersection_over_self(self, o: "BBox") -> float:
        a = self.area()
        return self.intersection_area(o) / a if a > 0 else 0.0

    @staticmethod
    def enclosing(boxes: list["BBox"]) -> "BBox":
        return BBox(min(b.l for b in boxes), min(b.t for b in boxes),
                    max(b.r for b in boxes), max(b.b for b in boxes))


@dataclass
class Cell:
    index: int
    text: str
    bbox: BBox
    confidence: float = 1.0


@dataclass
class Cluster:
    id: int
    label: str
    bbox: BBox
    confidence: float = 1.0
    cells: list[Cell] = field(default_factory=list)
    children: list["Cluster"] = field(default_factory=list)


# -------------------------------------------------- text quality scoring

_GLYPH_RE = re.compile(r"GLYPH<[0-9A-Fa-f]+>")
_SLASH_G_RE = re.compile(r"(?:/G\d+){2,}")
_FRAG_RE = re.compile(r"\b[A-Za-z](?:/[a-z]{1,3}\.[a-z]{1,3}){2,}\b")
_SLASH_NUMBER_GARBAGE_RE = re.compile(r"(?:/\w+\s*){2,}")


def rate_text_quality(text: str) -> float:
    """Per-cell garbage score in [0, 1] (reference semantics)."""
    if ("�" in text or _GLYPH_RE.search(text) or _SLASH_G_RE.search(text)
            or _SLASH_NUMBER_GARBAGE_RE.match(text)):
        return 0.0
    penalty = 0.0
    frags = _FRAG_RE.findall(text)
    if len(frags) >= 3:
        penalty += 0.1 * len(frags)
    return max(1.0 - penalty, 0.0)


def page_parse_score(cell_texts: Iterable[str]) -> float:
    """10%-quantile of cell scores - emphasizes the worst parses."""
    scores = sorted(rate_text_quality(t) for t in cell_texts)
    if not scores:
        return float("nan")
    # linear-interpolation quantile (numpy default) at q=0.10
    pos = 0.10 * (len(scores) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(scores) - 1)
    frac = pos - lo
    return scores[lo] * (1 - frac) + scores[hi] * frac


# ----------------------------------------------------- layout postprocess

CONFIDENCE_THRESHOLDS = {
    "caption": 0.5, "footnote": 0.5, "formula": 0.5, "list_item": 0.5,
    "page_footer": 0.5, "page_header": 0.5, "picture": 0.5,
    "section_header": 0.45, "table": 0.5, "text": 0.5, "title": 0.45,
    "code": 0.45, "checkbox_selected": 0.45, "checkbox_unselected": 0.45,
    "form": 0.45, "key_value_region": 0.45, "document_index": 0.45,
}
LABEL_REMAPPING = {"title": "section_header"}
WRAPPER_TYPES = {"form", "key_value_region", "table", "document_index"}
SPECIAL_TYPES = WRAPPER_TYPES | {"picture"}
OVERLAP_PARAMS = {
    "regular": {"area_threshold": 1.3, "conf_threshold": 0.05},
    "picture": {"area_threshold": 2.0, "conf_threshold": 0.3},
    "wrapper": {"area_threshold": 2.0, "conf_threshold": 0.2},
}


class _UnionFind:
    def __init__(self, elems):
        self.parent = {e: e for e in elems}

    def find(self, x):
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra

    def groups(self) -> dict:
        out: dict = {}
        for e in self.parent:
            out.setdefault(self.find(e), []).append(e)
        return out


def _overlap_pairs(clusters: list[Cluster], overlap_threshold=0.8,
                   containment_threshold=0.8):
    """Sort-sweep on the x-interval to prune candidate pairs, then the
    exact IoU/containment test (replaces the reference's R-tree)."""
    order = sorted(range(len(clusters)), key=lambda i: clusters[i].bbox.l)
    for oi, i in enumerate(order):
        bi = clusters[i].bbox
        for j in order[oi + 1:]:
            bj = clusters[j].bbox
            if bj.l > bi.r:
                break
            if bi.area() <= 0 or bj.area() <= 0:
                continue
            if (bi.iou(bj) > overlap_threshold
                    or bi.intersection_over_self(bj) > containment_threshold
                    or bj.intersection_over_self(bi) > containment_threshold):
                yield clusters[i].id, clusters[j].id


def assign_cells_to_clusters(cells: list[Cell], clusters: list[Cluster],
                             min_overlap: float = 0.2) -> list[Cluster]:
    """Best-overlap argmax assignment, min 0.2 coverage of the cell."""
    for c in clusters:
        c.cells = []
    for cell in cells:
        if not cell.text.strip():
            continue
        if cell.bbox.area() <= 0:
            continue
        best, best_ov = None, min_overlap
        for cl in clusters:
            ov = cell.bbox.intersection_over_self(cl.bbox)
            if ov > best_ov:
                best_ov, best = ov, cl
        if best is not None:
            best.cells.append(cell)
    for cl in clusters:
        cl.cells = _dedup_cells(cl.cells)
    return clusters


def _dedup_cells(cells: list[Cell]) -> list[Cell]:
    seen: set = set()
    out = []
    for c in cells:
        if c.index not in seen:
            seen.add(c.index)
            out.append(c)
    return out


def _should_prefer(candidate: Cluster, other: Cluster, params: dict) -> bool:
    if candidate.label == "list_item" and other.label == "text":
        if other.bbox.area() > 0:
            ratio = candidate.bbox.area() / other.bbox.area()
            if abs(1 - ratio) < 0.2:
                return True
    if candidate.label == "code":
        if other.bbox.intersection_over_self(candidate.bbox) > 0.8:
            return True
    if other.bbox.area() > 0:
        area_ratio = candidate.bbox.area() / other.bbox.area()
        conf_diff = other.confidence - candidate.confidence
        if (area_ratio <= params["area_threshold"]
                and conf_diff > params["conf_threshold"]):
            return False
    return True


def _best_of_group(group: list[Cluster], params: dict) -> Cluster:
    best = None
    for cand in group:
        if all(_should_prefer(cand, other, params)
               for other in group if other is not cand):
            if best is None:
                best = cand
            elif (cand.bbox.area() > best.bbox.area()
                  and best.confidence - cand.confidence
                  <= params["conf_threshold"]):
                best = cand
    return best if best is not None else group[0]


def remove_overlapping_clusters(clusters: list[Cluster],
                                cluster_type: str) -> list[Cluster]:
    if not clusters:
        return []
    params = OVERLAP_PARAMS[cluster_type]
    by_id = {c.id: c for c in clusters}
    uf = _UnionFind(by_id.keys())
    for a, b in _overlap_pairs(clusters):
        uf.union(a, b)
    result = []
    for group_ids in uf.groups().values():
        if len(group_ids) == 1:
            result.append(by_id[group_ids[0]])
            continue
        group = [by_id[i] for i in group_ids]
        best = _best_of_group(group, params)
        for c in group:
            if c is not best:
                best.cells.extend(c.cells)
        best.cells = sorted(_dedup_cells(best.cells), key=lambda c: c.index)
        result.append(best)
    return result


def _sort_clusters_by_id(clusters: list[Cluster]) -> list[Cluster]:
    big = 1 << 62
    return sorted(clusters, key=lambda c: (
        min((cell.index for cell in c.cells), default=big),
        c.bbox.t, c.bbox.l))


def postprocess_page(
    cells: list[Cell],
    clusters: list[Cluster],
    page_width: float,
    page_height: float,
    create_orphan_clusters: bool = True,
) -> list[Cluster]:
    """Full deterministic layout postprocessing pipeline for one page."""
    regular = [c for c in clusters if c.label not in SPECIAL_TYPES]
    special = [c for c in clusters if c.label in SPECIAL_TYPES]

    # --- regular clusters
    regular = [c for c in regular
               if c.confidence >= CONFIDENCE_THRESHOLDS.get(c.label, 0.5)]
    for c in regular:
        if c.label in LABEL_REMAPPING:
            c.label = LABEL_REMAPPING[c.label]
    regular = assign_cells_to_clusters(cells, regular)
    regular = [c for c in regular if c.cells or c.label == "formula"]

    assigned = {cell.index for c in regular for cell in c.cells}
    unassigned = [c for c in cells
                  if c.index not in assigned and c.text.strip()]
    if unassigned and create_orphan_clusters:
        next_id = max((c.id for c in clusters), default=0) + 1
        for i, cell in enumerate(unassigned):
            regular.append(Cluster(
                id=next_id + i, label="text", bbox=cell.bbox,
                confidence=cell.confidence, cells=[cell]))

    prev = len(regular) + 1
    for _ in range(3):
        if prev == len(regular):
            break
        prev = len(regular)
        for c in regular:
            if c.cells:
                boxes = [cell.bbox for cell in c.cells]
                tight = BBox.enclosing(boxes)
                if c.label == "table":
                    c.bbox = BBox(min(c.bbox.l, tight.l), min(c.bbox.t, tight.t),
                                  max(c.bbox.r, tight.r), max(c.bbox.b, tight.b))
                else:
                    c.bbox = tight
        regular = remove_overlapping_clusters(regular, "regular")

    # --- special clusters
    special = [c for c in special
               if c.confidence >= CONFIDENCE_THRESHOLDS.get(c.label, 0.5)]
    # KEY_VALUE_REGION ~= TABLE -> drop wrapper; PICTURE ~= TABLE -> drop picture
    to_remove = set()
    for wrapper in special:
        if wrapper.label not in WRAPPER_TYPES:
            continue
        for reg in regular:
            if reg.label == "table":
                if (wrapper.bbox.intersection_over_self(reg.bbox) > 0.9
                        and wrapper.confidence - reg.confidence < 0.1):
                    to_remove.add(wrapper.id)
                    break
    tables = [c for c in special if c.label == "table"]
    for pic in special:
        if pic.label != "picture":
            continue
        for tab in tables:
            if pic.bbox.iou(tab.bbox) > 0.8:
                to_remove.add(pic.id)
                break
    special = [c for c in special if c.id not in to_remove]

    page_area = page_width * page_height
    if page_area > 0:
        special = [c for c in special
                   if not (c.label == "picture"
                           and c.bbox.area() / page_area > 0.90)]

    for sp in special:
        contained = [c for c in regular
                     if c.bbox.intersection_over_self(sp.bbox) > 0.8]
        if contained:
            sp.children = _sort_clusters_by_id(contained)
            if sp.label in ("form", "key_value_region"):
                sp.bbox = BBox.enclosing([c.bbox for c in contained])
            all_cells: list[Cell] = []
            for child in contained:
                all_cells.extend(child.cells)
            sp.cells = sorted(_dedup_cells(all_cells), key=lambda c: c.index)

    pictures = remove_overlapping_clusters(
        [c for c in special if c.label == "picture"], "picture")
    wrappers = remove_overlapping_clusters(
        [c for c in special if c.label in WRAPPER_TYPES], "wrapper")
    special = pictures + wrappers

    contained_ids = {ch.id for sp in special for ch in sp.children}
    regular = [c for c in regular if c.id not in contained_ids]

    final = _sort_clusters_by_id(regular + special)
    for c in final:
        c.cells = sorted(c.cells, key=lambda cell: cell.index)
    return final


# ----------------------------------------------------------- reading order

def reading_order(clusters: list[Cluster]) -> list[Cluster]:
    """Topological sort by the 'above / left-of-in-same-band' partial order.

    A precedes B when A's bottom is above B's top and they overlap
    horizontally (same column), or when they overlap vertically and A is
    fully left of B (two-column layout). Kahn's algorithm with (t, l)
    tie-break keeps the result stable and deterministic.
    """
    n = len(clusters)
    succ: list[set] = [set() for _ in range(n)]
    indeg = [0] * n
    for i in range(n):
        bi = clusters[i].bbox
        for j in range(n):
            if i == j:
                continue
            bj = clusters[j].bbox
            x_overlap = min(bi.r, bj.r) - max(bi.l, bj.l)
            y_overlap = min(bi.b, bj.b) - max(bi.t, bj.t)
            before = False
            if bi.b <= bj.t and x_overlap > 0:
                before = True          # strictly above in the same column
            elif y_overlap > 0 and bi.r <= bj.l:
                before = True          # same band, fully left
            if before and j not in succ[i]:
                succ[i].add(j)
                indeg[j] += 1
    import heapq
    ready = [(clusters[i].bbox.t, clusters[i].bbox.l, i)
             for i in range(n) if indeg[i] == 0]
    heapq.heapify(ready)
    out = []
    while ready:
        _, _, i = heapq.heappop(ready)
        out.append(clusters[i])
        for j in succ[i]:
            indeg[j] -= 1
            if indeg[j] == 0:
                heapq.heappush(ready, (clusters[j].bbox.t,
                                       clusters[j].bbox.l, j))
    if len(out) != n:  # cycle fallback: stable geometric sort
        done = {id(c) for c in out}
        rest = sorted((c for c in clusters if id(c) not in done),
                      key=lambda c: (c.bbox.t, c.bbox.l))
        out.extend(rest)
    return out


def attach_captions(clusters: list[Cluster],
                    max_distance: float = 30.0) -> dict[int, int]:
    """Caption/footnote attachment: each caption binds to the nearest
    picture/table by vertical proximity with horizontal overlap
    (readingorder_model.py:631-639 analog). Returns {caption_id: target_id}."""
    targets = [c for c in clusters if c.label in ("picture", "table")]
    out: dict[int, int] = {}
    for cap in clusters:
        if cap.label not in ("caption", "footnote"):
            continue
        best, best_d = None, max_distance
        for t in targets:
            x_overlap = (min(cap.bbox.r, t.bbox.r)
                         - max(cap.bbox.l, t.bbox.l))
            if x_overlap <= 0:
                continue
            d = min(abs(cap.bbox.t - t.bbox.b), abs(t.bbox.t - cap.bbox.b))
            if d < best_d:
                best_d, best = d, t
        if best is not None:
            out[cap.id] = best.id
    return out


# --------------------------------------------------------- text assembly

_LIGATURES = {
    "ﬀ": "ff", "ﬁ": "fi", "ﬂ": "fl", "ﬃ": "ffi",
    "ﬄ": "ffl", "ﬅ": "st", "ﬆ": "st",
    "Ĳ": "IJ", "ĳ": "ij", "": "",
}
_LIGATURE_RE = re.compile(r"([ﬀ-ﬆ]|Ĳ|ĳ|)( (?=\w))?")
_WORD_RE = re.compile(r"\b[\w]+\b")


def sanitize_text(lines: list[str]) -> str:
    """Hyphen de-break join + quote/bullet normalization + ligatures
    (page_assemble_model.sanitize_text semantics)."""
    if not lines:
        return ""
    lines = list(lines)
    for ix, line in enumerate(lines[1:]):
        prev_line = lines[ix]
        if prev_line.endswith("-"):
            prev_words = _WORD_RE.findall(prev_line)
            line_words = _WORD_RE.findall(line)
            if (prev_words and line_words and prev_words[-1].isalnum()
                    and line_words[0].isalnum()):
                lines[ix] = prev_line[:-1]
        else:
            lines[ix] += " "
    text = "".join(lines)
    # curly DOUBLE quotes also land on the ASCII apostrophe: pdfium's
    # unicode-compat normalization does this and every pdf groundtruth
    # bakes it (normal_4pages: 17 apostrophes, zero double quotes)
    # fraction slash renders as a spaced solidus ("1 / 4", pdfium compat)
    for raw, rep in (("⁄", " / "), ("’", "'"), ("‘", "'"),
                     ("“", "'"), ("”", "'"), ("•", "·")):
        text = text.replace(raw, rep)
    text = _LIGATURE_RE.sub(
        lambda m: (_LIGATURES[m.group(1)]
                   + ("" if "ﬀ" <= m.group(1) <= "ﬆ"
                      else (m.group(2) or ""))),
        text)
    return text.strip()


def assemble_page(cells: list[Cell], clusters: list[Cluster],
                  page_width: float, page_height: float) -> list[dict]:
    """postprocess -> reading order -> per-cluster sanitized text."""
    final = postprocess_page(cells, clusters, page_width, page_height)
    ordered = reading_order(final)
    captions = attach_captions(ordered)
    out = []
    for c in ordered:
        out.append({
            "cluster_id": c.id,
            "label": c.label,
            "text": sanitize_text([cell.text for cell in c.cells]),
            "bbox": [c.bbox.l, c.bbox.t, c.bbox.r, c.bbox.b],
            "n_cells": len(c.cells),
            "caption_of": captions.get(c.id),
        })
    return out


# ------------------------------------------------------- spark operator

PAGE_LAYOUT_SCHEMA = (
    "url string, page_no int, parse_score double, "
    "elements array<struct<cluster_id:int,label:string,text:string,"
    "bbox:array<double>,n_cells:int,caption_of:int>>"
)


def process_page_layout(df):
    """Spark operator: rows of (url, page_no, page_width, page_height,
    cells json, clusters json) -> assembled elements per page.

    Grouped per Arrow batch via mapInPandas; each page is independent so
    any partitioning works (extraction's is engine.partition_pages).
    """
    import json

    import pandas as pd

    def batches(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_spark_archives()
        for pdf in it:
            rows = {"url": [], "page_no": [], "parse_score": [],
                    "elements": []}
            for url, page_no, w, h, cells_js, clusters_js in zip(
                    pdf["url"], pdf["page_no"], pdf["page_width"],
                    pdf["page_height"], pdf["cells"], pdf["clusters"]):
                cells = [Cell(c["index"], c["text"],
                              BBox(c["l"], c["t"], c["r"], c["b"]),
                              c.get("confidence", 1.0))
                         for c in json.loads(cells_js)]
                clusters = [Cluster(c["id"], c["label"],
                                    BBox(c["l"], c["t"], c["r"], c["b"]),
                                    c.get("confidence", 1.0))
                            for c in json.loads(clusters_js)]
                elements = assemble_page(cells, clusters, w, h)
                rows["url"].append(url)
                rows["page_no"].append(page_no)
                rows["parse_score"].append(
                    page_parse_score(c.text for c in cells))
                rows["elements"].append(elements)
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, schema=PAGE_LAYOUT_SCHEMA)


def merge_split_text(prefix: str, continuation: str) -> str:
    """Cross-element hyphen merge (readingorder_model._merge_elements
    :589-621): a soft hyphen, or a hard hyphen followed by a lowercase
    continuation, marks a split word - drop the hyphen and join directly;
    anything else joins with a space."""
    cont_stripped = continuation.lstrip()
    if prefix.endswith("­") or (
            prefix.endswith("-") and cont_stripped
            and cont_stripped[0].islower()):
        return prefix[:-1] + continuation
    return f"{prefix} {continuation}"
