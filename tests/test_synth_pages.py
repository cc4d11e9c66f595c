"""The synthesized page kinds behind the extraction oracles: their bytes,
their eligibility boundaries, and their agreement with the benchmark
corpus's kind table."""

import hashlib
import json

import pytest

from ocr_table_extractor_to_csv_spark.sources.pages import (
    KINDS,
    grid_tokens,
    pages_from_documents,
)

TEXT = (
    "Quarterly REVENUE grew 12% in Q3-2024; operating-margins widened, "
    "net cash rose to 1,250 units. Internationalization costs fell while "
    "the board approved a buyback of 3 million shares and a dividend of "
    "0.45, payable on 15 March."
)

# sha256 of each kind's page for TEXT; the DuckDB oracles derive their
# expected CSVs from exactly these layouts, so any byte change needs a
# matching oracle review
PAGE_SHA256 = {
    "doc": "8961387c323c2ca3c56b24868c5dee2e6c60fa7609edfe2793e0361cfee8bd3e",
    "fin": "d53892d305b1b4c7152ce94259fa334cbbc10307806070d5f50ab22219c80475",
    "dyn": "fc4fe97b2be0bf17fe7d74a5283487a9146c2d414ed1a7fabefa9649ce171a18",
    "pro": "78a183a399dd2bb66243734a7009be9e3a53bdf89f9842c48b83efbb79a7851b",
    "boiler": "bead78b84704b83d65300f54790c0fde5b1fe84be4ef9e3f3997440f49359e06",
    "crop": "0ef2b7bf4b2cfcb622d3739c579bf6a5d81c95eb9080262be6034577cf677d87",
    "hdr": "e314817626cc11ed504ba5d089e5af1b554222545ee0fed4523fa1a92d251acb",
    "cols": "8961387c323c2ca3c56b24868c5dee2e6c60fa7609edfe2793e0361cfee8bd3e",
    "tf": "8961387c323c2ca3c56b24868c5dee2e6c60fa7609edfe2793e0361cfee8bd3e",
}


def test_page_bytes_pinned():
    toks = grid_tokens(TEXT)
    assert len(toks) == 40
    assert set(KINDS) == set(PAGE_SHA256)
    for prefix, (build, *_rest) in KINDS.items():
        assert hashlib.sha256(build(toks)).hexdigest() == PAGE_SHA256[prefix], prefix


@pytest.mark.parametrize("prefix, min_tokens", [("dyn", 18), ("pro", 6), ("boiler", 8)])
def test_eligibility_boundary(spark, prefix, min_tokens):
    docs = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in (min_tokens - 1, min_tokens)],
        "doc_id long, text string",
    )
    urls = [r.url for r in pages_from_documents(docs, [prefix]).collect()]
    assert urls == [f"{prefix}://{min_tokens}"]


def test_benchmark_corpus_kinds_match():
    from perfbench.corpus import PAGE_KINDS

    for prefix, build, min_tokens, layout, args in PAGE_KINDS:
        k_build, k_min, k_layout, k_args = KINDS[prefix]
        assert (build, min_tokens, layout) == (k_build, k_min, k_layout), prefix
        assert json.loads(args or "null") == json.loads(k_args or "null"), prefix
