"""CVAT annotation round-trip: preannotation writer + annotation reader.

Rebuild of the reference's human-annotation loop surfaces
(docling_eval/dataset_builders/cvat_preannotation_builder.py — writes
CVAT task XML per page image with preannotation boxes — and
cvat_dataset_builder.py:263-340 — reads annotated XML back: `<box>`
elements carry label + xtl/ytl/xbr/ybr page coordinates, a `<polyline>`
named `reading_order` carries `x,y;x,y;...` points, and each point is
resolved to the box containing it to recover the annotated reading
order).

The XML dialect is the public CVAT "images" 1.1 export format. Parsing
is a pure function over one image's XML; across a corpus it runs inside
one Arrow-batched stage over (doc_id, xml) rows — per-doc XML is small
annotation metadata, so this stays embarrassingly parallel.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import row_stage

CVAT_SPAN_FIELDS = (
    "image string, idx int, label string, l double, t double, "
    "r double, b double"
)


def to_cvat_xml(boxes, labels, name: str, width: int = 500,
                height: int = 500, reading_order=None,
                polylines=None, attributes=None) -> str:
    """Spans -> one CVAT `<image>` annotation document (the
    preannotation direction): boxes in the given (document) order plus a
    `reading_order` polyline through the box centers — by default in
    listing order, or along `reading_order` (indices into `boxes`) when
    the annotated order differs from the listing order. The reader
    resolves the polyline back via point-in-box.

    `polylines` adds link/merge/group lines as (label, [box indices])
    pairs (points at the named boxes' centers); `attributes` maps a box
    index to {name: value} `<attribute>` children (e.g. heading level)."""
    root = ET.Element("annotations")
    ET.SubElement(root, "version").text = "1.1"
    img = ET.SubElement(root, "image", {
        "id": "0", "name": name,
        "width": str(width), "height": str(height),
    })
    centers = []
    for i, ((l, t, r, b), label) in enumerate(zip(boxes, labels)):
        bx = ET.SubElement(img, "box", {
            "label": str(label), "occluded": "0", "source": "manual",
            "xtl": f"{float(l):.2f}", "ytl": f"{float(t):.2f}",
            "xbr": f"{float(r):.2f}", "ybr": f"{float(b):.2f}",
        })
        for aname, aval in ((attributes or {}).get(i) or {}).items():
            ET.SubElement(bx, "attribute", {"name": aname}).text = str(aval)
        centers.append(((float(l) + float(r)) / 2, (float(t) + float(b)) / 2))

    def line(label: str, seq) -> None:
        ET.SubElement(img, "polyline", {
            "label": label, "occluded": "0", "source": "manual",
            "points": ";".join(f"{x:.2f},{y:.2f}" for x, y in seq),
        })

    if centers:
        seq = centers if reading_order is None else \
            [centers[i] for i in reading_order]
        line("reading_order", seq)
    for plabel, idxs in (polylines or []):
        line(plabel, [centers[i] for i in idxs])
    return ET.tostring(root, encoding="unicode")


def _find_box(boxes: list[dict], point: tuple[float, float]) -> int:
    """Index of the first box containing the point (reference
    cvat_dataset_builder point-in-box resolution), -1 if none."""
    x, y = point
    for i, bx in enumerate(boxes):
        if bx["l"] <= x <= bx["r"] and bx["t"] <= y <= bx["b"]:
            return i
    return -1


def parse_cvat_images(xml_s: str) -> list[tuple[str, list[dict]]]:
    """CVAT annotation XML -> [(image_name, boxes in ANNOTATED READING
    ORDER)] for EVERY <image> element — a real task export carries all
    annotated pages in one document. Per image: boxes not on the
    polyline keep document order after the ordered ones; images without
    a reading_order polyline yield document order (the reference skips
    images with neither boxes nor polylines — an empty box list here)."""
    root = ET.fromstring(xml_s)
    out = []
    for img in root.iter("image"):
        boxes = [{
            "label": bx.get("label"),
            "l": float(bx.get("xtl")), "t": float(bx.get("ytl")),
            "r": float(bx.get("xbr")), "b": float(bx.get("ybr")),
        } for bx in img.findall("box")]
        order: list[int] = []
        for pl in img.findall("polyline"):
            if pl.get("label") != "reading_order":
                continue
            for point_str in (pl.get("points") or "").split(";"):
                coords = point_str.split(",")
                if len(coords) == 2:
                    i = _find_box(boxes, (float(coords[0]), float(coords[1])))
                    if i >= 0 and i not in order:
                        order.append(i)
        order += [i for i in range(len(boxes)) if i not in order]
        out.append((img.get("name") or "", [boxes[i] for i in order]))
    return out


def parse_cvat_image(xml_s: str) -> list[dict]:
    """Single-image convenience wrapper: ordered boxes of the FIRST
    <image> (empty list if none)."""
    images = parse_cvat_images(xml_s)
    return images[0][1] if images else []


def _cvat_spans(key_val, xml_s):
    for name, boxes in parse_cvat_images(xml_s):
        for idx, bx in enumerate(boxes):
            yield (key_val, name, idx, bx["label"],
                   bx["l"], bx["t"], bx["r"], bx["b"])


def cvat_annotation_spans(df: DataFrame, xml_col: str = "xml",
                          key: str = "doc_id") -> DataFrame:
    """(key, xml) annotation rows -> span rows in annotated reading
    order — the reader half of the CVAT loop, Arrow-batched. Every
    <image> in a row's XML is parsed (real task exports are
    multi-image); the `image` column carries the per-page name. The key
    column keeps its input type (bigint doc ids or string task ids)."""
    ktype = dict(df.dtypes)[key]
    return row_stage(df.select(key, xml_col), _cvat_spans,
                     f"{key} {ktype}, {CVAT_SPAN_FIELDS}")


# -- Full document reconstruction ---------------------------------------------
#
# Depth parity with the reference's create_true_document
# (cvat_dataset_builder.py:864-1270): reading-order-driven item emission
# with merged boxes (get_next_provs :521-583), picture groups
# (get_grouped_images :585-663), caption/footnote links
# (add_captions_to_item :664-721, add_footnotes_to_item :723-782,
# is_linked :838-862 with merge/group expansion), list groups with
# previous-list-item parent chaining (:1096-1150), section-header levels
# from box attributes (:1020-1031), and the form / key-value / table /
# code / checkbox label dispatch (:1152-1270). Text comes from a
# caller-supplied per-box text array (the reference intersects parsed
# PDF text cells; at Spark level that projection is an input column).

_TEXTISH = ("text", "paragraph", "reference", "title")


def _parse_lines(img, boxes: list[dict]) -> tuple:
    ro = None
    cap: list = []
    foot: list = []
    val: list = []
    mrg: list = []
    grp: list = []
    for pl in img.findall("polyline"):
        boxids = []
        for point_str in (pl.get("points") or "").split(";"):
            coords = point_str.split(",")
            if len(coords) == 2:
                boxids.append(_find_box(
                    boxes, (float(coords[0]), float(coords[1]))))
        line = {"boxids": boxids}
        label = pl.get("label")
        if label == "reading_order":
            ro = line  # multiple -> last wins (reference :349-355)
        elif label == "to_caption":
            cap.append(line)
        elif label == "to_footnote":
            foot.append(line)
        elif label == "to_value":
            val.append(line)
        elif label in ("next_text", "merge"):
            mrg.append(line)
        elif label in ("next_figure", "group"):
            grp.append(line)
    return ro, cap, foot, val, mrg, grp


def _first_of(lines: list[dict], boxid: int) -> tuple[bool, list[int]]:
    for line in lines:
        if line["boxids"] and line["boxids"][0] == boxid:
            return True, line["boxids"][1:]
    return False, []


def _is_linked(boxid: int, links: list[dict], groups: list[dict],
               merges: list[dict]) -> bool:
    """Reference is_linked :838-862: expand the boxid through every
    merge/group it belongs to, linked if ANY associated id is on ANY
    link line."""
    boxids = {boxid}
    for line in merges + groups:
        if boxid in line["boxids"]:
            boxids.update(line["boxids"])
    return any(b in line["boxids"] for line in links for b in boxids)


def parse_cvat_document(xml_s: str, texts: "list[str] | None" = None
                        ) -> list[dict]:
    """One image's CVAT annotation XML (+ per-box texts in document
    order) -> reconstructed item rows in reading order. Boxes reachable
    only through merge/group/caption/footnote lines are consumed by
    their head item; unreachable boxes are dropped (the reference adds
    only reading-order-driven content). Unresolvable polyline points
    (-1 boxids) are skipped rather than indexing boxes[-1]."""
    root = ET.fromstring(xml_s)
    img = next(iter(root.iter("image")), None)
    if img is None:
        return []
    boxes = []
    for bx in img.findall("box"):
        attrs = {a.get("name"): (a.text or "")
                 for a in bx.findall("attribute")}
        boxes.append({
            "label": bx.get("label"),
            "l": float(bx.get("xtl")), "t": float(bx.get("ytl")),
            "r": float(bx.get("xbr")), "b": float(bx.get("ybr")),
            "attributes": attrs,
        })
    ro, cap, foot, _val, mrg, grp = _parse_lines(img, boxes)
    if ro is None:
        return []  # reference: keep=False without a reading order

    items: list[dict] = []
    already: set[int] = set()
    box_item: dict[int, int] = {}

    def text_of(i: int) -> str:
        return texts[i] if texts and 0 <= i < len(texts) else ""

    def emit(kind: str, label: str, boxid: int, text: str = "",
             parent=None, n_provs: int = 1, merged=(), level=None) -> int:
        bx = boxes[boxid] if boxid >= 0 else None
        items.append({
            "item_idx": len(items), "boxid": boxid, "label": label,
            "kind": kind, "text": text,
            "l": bx["l"] if bx else None, "t": bx["t"] if bx else None,
            "r": bx["r"] if bx else None, "b": bx["b"] if bx else None,
            "parent_idx": parent, "n_provs": n_provs,
            "merged_boxids": list(merged), "level": level,
        })
        return len(items) - 1

    def attach(parent_idx: int, boxid: int, links: list[dict],
               lab: str) -> None:
        for line in links:
            if line["boxids"] and line["boxids"][0] == boxid:
                for b2 in line["boxids"][1:]:
                    if b2 < 0 or b2 in already:
                        continue
                    already.add(b2)
                    emit("text", lab, b2, text_of(b2), parent=parent_idx)

    boxids = ro["boxids"]
    for ind, boxid in enumerate(boxids):
        if boxid < 0 or boxid in already:
            continue
        already.add(boxid)
        label = boxes[boxid]["label"]
        text = text_of(boxid)
        # merges consume their tail boxes whatever the label (reference
        # calls get_next_provs before the dispatch)
        merged: list[int] = []
        for m in mrg:
            if len(m["boxids"]) > 1 and m["boxids"][0] == boxid:
                for b2 in m["boxids"][1:]:
                    if b2 < 0 or b2 in already:
                        continue
                    already.add(b2)
                    merged.append(b2)
                    text = text + " " + text_of(b2)
        first_grp, rest_grp = _first_of(grp, boxid)

        if label in _TEXTISH:
            box_item[boxid] = emit("text", label, boxid, text,
                                   n_provs=1 + len(merged), merged=merged)
        elif label in ("page_header", "page_footer"):
            box_item[boxid] = emit("furniture", label, boxid, text)
        elif label == "section_header":
            try:
                level = int(boxes[boxid]["attributes"].get("level", 1))
            except ValueError:
                level = 1
            box_item[boxid] = emit("heading", label, boxid, text,
                                   level=level)
        elif label == "caption":
            if not _is_linked(boxid, cap, grp, mrg):
                box_item[boxid] = emit("text", label, boxid, text)
        elif label == "footnote":
            if not _is_linked(boxid, foot, grp, mrg):
                box_item[boxid] = emit("text", label, boxid, text)
        elif label in ("checkbox_selected", "checkbox_unselected"):
            box_item[boxid] = emit("text", label, boxid, text)
        elif label == "list_item":
            parent = None
            prev = boxids[ind - 1] if ind > 0 else None
            if (prev in box_item
                    and items[box_item[prev]]["kind"] == "list_item"):
                parent = box_item[prev]
            gidx = emit("group", "ordered_list", -1, parent=parent)
            box_item[boxid] = emit("list_item", label, boxid, text,
                                   parent=gidx)
            if first_grp:
                for b2 in rest_grp:
                    if b2 < 0 or b2 in already:
                        continue
                    already.add(b2)
                    box_item[b2] = emit("list_item", "list_item", b2,
                                        text_of(b2), parent=gidx)
        elif label == "formula":
            box_item[boxid] = emit("text", label, boxid, text)
        elif label == "code":
            i = emit("code", label, boxid, text)
            box_item[boxid] = i
            attach(i, boxid, cap, "caption")
            attach(i, boxid, foot, "footnote")
        elif label == "form":
            box_item[boxid] = emit("form", label, boxid)
        elif label == "key_value_region":
            box_item[boxid] = emit("key_value", label, boxid)
        elif label in ("table", "document_index"):
            i = emit("table", label, boxid, text)
            box_item[boxid] = i
            attach(i, boxid, cap, "caption")
            attach(i, boxid, foot, "footnote")
        elif label == "picture":
            gmerged: list[int] = []
            if first_grp:
                for b2 in rest_grp:
                    if b2 < 0 or b2 in already:
                        continue
                    already.add(b2)
                    gmerged.append(b2)
            i = emit("picture", label, boxid,
                     n_provs=1 + len(gmerged), merged=gmerged)
            box_item[boxid] = i
            attach(i, boxid, cap, "caption")
            attach(i, boxid, foot, "footnote")
        # other labels ignored (reference logs and drops)
    return items


CVAT_ITEM_FIELDS = (
    "item_idx int, boxid int, label string, kind string, text string, "
    "l double, t double, r double, b double, parent_idx int, "
    "n_provs int, merged_boxids array<int>, level int"
)


def cvat_document_items(df: DataFrame, xml_col: str = "xml",
                        texts_col: "str | None" = None,
                        key: str = "doc_id") -> DataFrame:
    """(key, xml[, texts]) -> reconstructed document items, one Arrow
    stage across the corpus."""
    ktype = dict(df.dtypes)[key]
    texts = (F.col(texts_col) if texts_col
             else F.lit(None).cast("array<string>"))
    fields = StructType.fromDDL(CVAT_ITEM_FIELDS).fieldNames()

    def _cvat_items(key_val, xml_s, texts):
        tl = list(texts) if texts is not None else None
        for item in parse_cvat_document(xml_s, tl):
            yield (key_val, *(item[k] for k in fields))

    return row_stage(df.select(key, xml_col, texts), _cvat_items,
                     f"{key} {ktype}, {CVAT_ITEM_FIELDS}")
