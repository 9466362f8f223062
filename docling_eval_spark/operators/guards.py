"""Document-level validity guards applied BEFORE evaluation stages.

P6 multi-provenance guard: the reference skips any document where some
item has more than one provenance entry (readingorder_evaluator.py
:177-184 returns None for the whole doc; bbox_text_evaluator.py:213
asserts len(prov) == 1). Here the guard is a pure native filter over the
nested item array — no explode, no shuffle, evaluated during the scan —
so at corpus scale the skipped docs never reach the Python stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_multi_provenance_docs(docs: DataFrame,
                               items_col: str = "items") -> DataFrame:
    """Keep only documents where EVERY item has exactly one provenance.

    Mirrors the reference's whole-document skip (one bad item rejects the
    doc). Items with an empty prov list also reject — the reference's
    `item.prov[0]` would fail on them.
    """
    ok = F.forall(
        F.col(items_col), lambda it: F.size(it["prov"]) == F.lit(1))
    return docs.where(ok)
