"""Seeded benchmark inputs, written with pyarrow (no Spark needed).

Two tables, both a pure function of the workload seed:

documents  (doc_id, text, lang, source, n_chars) — the shape of the
    sf fixtures' `documents.parquet`: single-paragraph texts over a
    31-word vocabulary, 8-96 words each, the lengths spread evenly so
    that every seed brings the same amount of work. doc_ids start at a
    seed-derived offset, so the doc_id-keyed layout / reading-order
    fixtures also change with the seed.

stored pages  (doc_id, url, warc_ts, html, text, lang) — the input of
    `jobs/extract_job.py --input`, html built by the package's own
    `corpus.html_synth.synth_html`, plus two properties the synthetic
    corpus lacks:
      * a heavy tail: `HEAVY_SHARE` of the pages, all from the largest
        host, are padded with an <aside> link list past the 256 KB
        `size_balanced_repartition` threshold. The extractor drops the
        padding, so their extracted text is still the reference text;
      * a mismatch share: the reference `text` of `MISMATCH_SHARE` of
        the rows is perturbed (one word appended), so those rows are
        not byte-identical and the scorer takes its slow (DP) path.
    Rows are written sorted by (host, url), several row groups per file,
    so the heavy pages sit together in one input split.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark query join scan filter sort hash group agg "
         "window stream batch table column row key value part order "
         "customer line vector merge fast slow big small index").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)

HEAVY_SHARE = 1 / 100
HEAVY_MIN_BYTES = 300_000  # past the 262,144-byte heavy threshold
MISMATCH_SHARE = 1 / 8

_PAD_LIST = "<ul>" + "".join(
    f'<li><a href="/more/{i}">Related link {i}</a></li>' for i in range(20)
) + "</ul>"


def _rng(seed: int, stream: str) -> np.random.Generator:
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "big"))


def make_documents(seed: int, n_docs: int, stream: str = "docs") -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars), `n_docs` rows."""
    rng = _rng(seed, stream)
    base = int(rng.integers(0, 1000)) * 100_000
    # the same spread of lengths for every seed, in a seeded order
    n_words = rng.permutation(8 + np.arange(n_docs) * 89 // n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=int(k))])
             for k in n_words]
    langs = rng.choice(np.array(LANGS), size=n_docs, p=LANG_P)
    ids = np.arange(base, base + n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(table: pa.Table, sf_dir: str) -> str:
    """Write `table` as `<sf_dir>/documents.parquet` (the layout the
    package's `sf_dir` readers expect); returns sf_dir."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"),
                   row_group_size=max(1, table.num_rows // 8))
    return sf_dir


@dataclass
class StoredPages:
    """What the extract job must reproduce for a stored-pages table."""

    path: str
    n_pages: int
    n_heavy: int
    n_identical: int          # rows whose reference text is unperturbed
    expected_md5: dict        # url -> md5 of the unperturbed text
    heavy_urls: frozenset


def _pad(html: bytes, rng: np.random.Generator) -> bytes:
    target = HEAVY_MIN_BYTES + int(rng.integers(0, 20_000))
    reps = target // len(_PAD_LIST) + 1
    pad = ('<aside class="promo">' + _PAD_LIST * reps + "</aside>").encode()
    return html.replace(b"</body>", pad + b"</body>", 1)


def write_stored_pages(seed: int, n_pages: int, out_dir: str,
                       n_files: int = 4) -> StoredPages:
    """Generate and write the stored-pages table under `out_dir`."""
    from docling_eval_spark.corpus.html_synth import (
        host_for, synth_html, url_for, warc_ts_for)

    docs = make_documents(seed, n_pages, stream="pages").to_pydict()
    rng = _rng(seed, "pages-shape")
    ids = docs["doc_id"]
    hosts = [host_for(i) for i in ids]
    # heavy pages: a seeded subset of the largest host's pages
    top = max(set(hosts), key=hosts.count)
    on_top = [k for k, h in enumerate(hosts) if h == top]
    n_heavy = min(len(on_top), max(1, round(n_pages * HEAVY_SHARE)))
    heavy = set(rng.choice(on_top, size=n_heavy, replace=False).tolist())
    n_mis = round(n_pages * MISMATCH_SHARE)
    mismatch = set(rng.choice(n_pages, size=n_mis, replace=False).tolist())

    rows = []
    expected = {}
    for k, (i, text, lang) in enumerate(zip(ids, docs["text"], docs["lang"])):
        html = synth_html(i, text, lang)
        if k in heavy:
            html = _pad(html, rng)
        url = url_for(i)
        expected[url] = hashlib.md5(text.encode()).hexdigest()
        ref = text + " perturbed" if k in mismatch else text
        rows.append((hosts[k], url, i, warc_ts_for(i), html, ref, lang))
    rows.sort(key=lambda r: (r[0], r[1]))  # clustered by host

    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per_file:(f + 1) * per_file]
        if not part:
            continue
        _, url, i, ts, html, ref, lang = zip(*part)
        table = pa.table({
            "doc_id": pa.array(i, pa.int64()),
            "url": list(url),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": list(ref),
            "lang": list(lang),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{f:03d}.parquet"),
                       row_group_size=128)
    return StoredPages(
        path=out_dir, n_pages=n_pages, n_heavy=n_heavy,
        n_identical=n_pages - n_mis, expected_md5=expected,
        heavy_urls=frozenset(url_for(ids[k]) for k in heavy))
