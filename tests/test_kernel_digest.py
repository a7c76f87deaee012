"""segment_one at corpus scale, pinned: one digest over 10,000 seed-42
corpus docs, which cover every edge residue of corpus.make_document
(the 2 MB page at i % 4999 == 13 included).

The digest was computed with the callback-driven segmenter that the
token-stream kernel replaced, and must not be re-frozen to follow a
kernel change: a different digest means some document's blocks,
text, counts or flags changed.
"""

import hashlib
import json

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG
from dxnn_ocr_cpp_spark.corpus import make_document
from dxnn_ocr_cpp_spark.operators.segment import segment_one

N_DOCS = 10_000
SEED = 42
DIGEST = "da5ee3cecff52e4f45ac2614a7ed1d89b5e5c63859c3baf39c59ed72910de84a"


def kernel_digest(n_docs: int = N_DOCS, seed: int = SEED) -> str:
    """sha256 over the per-doc sha256 of segment_one's output as
    canonical JSON, folded in doc order."""
    h = hashlib.sha256()
    for i in range(n_docs):
        out = segment_one(make_document(i, seed)["html"], DEFAULT_CONFIG)
        doc = json.dumps(out, sort_keys=True, ensure_ascii=False,
                         separators=(",", ":"))
        h.update(hashlib.sha256(doc.encode("utf-8", "surrogatepass")).digest())
    return h.hexdigest()


def test_segment_one_digest_over_10k_corpus_docs():
    assert kernel_digest() == DIGEST
