"""Digest goldens of the simple-chain segment build.

A digest is the row count plus one sha256 per column of the rows,
sorted by ``term, seg_id, block_id``. Both goldens were written at
commit d59470f at ``seg_size=128``, by builders that the document
builder ``segments.build_single_pass_from_docs`` replaced:

- ``golden/single_pass_sf0.001_seg128.json``: every column of the
  unsplit output (block rows and norm rows) of the token-table builder,
  ``build_single_pass(simple.tokenize(docs, "doc_id", "text"),
  seg_size=128)``, over sf0.001 plus the null, empty, punctuation-only
  and repeated-term documents of ``test_mapside_build._docs``. It was
  written with

      python3 -m tests.segment_golden

  run from the repository root (``build_docs`` then called that
  builder). Rerunning the command rewrites it from the current builder.
- ``golden/two_stage_sf0.001_seg128.json``: every column but
  ``positions`` of the two-stage builder,
  ``build_segments(c.postings, c.doc_lens, seg_size=128)`` with
  ``c = Corpus(docs)``, over the sf0.001 documents. That builder wrote
  no positions.

Both goldens hold the 13 columns of the layout they were written in;
``last_doc``, ``max_tf`` and ``min_dl`` have since left the format, so
the tests compare the digests of the columns that remain
(:func:`kept` — each column's digest stands alone). The norm marker
rows of that layout carried ``sum_dl`` in ``min_dl`` and 0 in
``sum_tf``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from alix_spark.index import segments as seg_mod

GOLDEN_DIR = Path(__file__).parent / "golden"
SINGLE_PASS = GOLDEN_DIR / "single_pass_sf0.001_seg128.json"
TWO_STAGE = GOLDEN_DIR / "two_stage_sf0.001_seg128.json"
SEG_SIZE = 128
KEY = ["term", "seg_id", "block_id"]
BINARY = {"doc_gaps", "tfs", "positions"}


def build_docs(spark):
    """The document builder's unsplit output over
    ``test_mapside_build._docs``."""
    from tests.test_mapside_build import _docs

    return seg_mod.build_single_pass_from_docs(
        _docs(spark), "text", seg_size=SEG_SIZE
    )


def digest(pdf, columns=None) -> dict:
    """Row count plus, per column (default: all of ``SEGMENT_SCHEMA``),
    the sha256 of its length-prefixed values in key order."""
    pdf = pdf.sort_values(KEY).reset_index(drop=True)
    out = {}
    for col in columns or seg_mod.SEGMENT_SCHEMA.fieldNames():
        h = hashlib.sha256()
        for v in pdf[col]:
            b = bytes(v) if col in BINARY else str(v).encode()
            h.update(len(b).to_bytes(4, "little") + b)
        out[col] = h.hexdigest()
    return {"rows": len(pdf), "columns": out}


def golden(path: Path) -> dict:
    return json.loads(path.read_text())


def kept(expected: dict) -> dict:
    """A golden restricted to the columns ``SEGMENT_SCHEMA`` still has."""
    names = set(seg_mod.SEGMENT_SCHEMA.fieldNames())
    return {
        "rows": expected["rows"],
        "columns": {
            c: h for c, h in expected["columns"].items() if c in names
        },
    }


if __name__ == "__main__":
    from alix_spark import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    SINGLE_PASS.write_text(
        json.dumps(digest(build_docs(spark).toPandas()), indent=2) + "\n"
    )
