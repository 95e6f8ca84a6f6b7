"""The serve output checks' own text reference: token rows and the
scores computed from them, on documents small enough to work by hand."""

import pandas as pd
import pyarrow as pa

import serve


class _Docs:
    def __init__(self, texts: list[str]) -> None:
        self.tables = {
            "documents": pa.table({
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
            }),
            "embeddings": pa.table({
                "vec_id": [0], "embedding": [[1.0, 0.0]], "label": [0],
            }),
            "events": pa.table({
                "ts": pa.array([pd.Timestamp("2024-01-01")], pa.timestamp("us")),
                "value": [1.0],
            }),
        }


def _bf(texts):
    return serve.BruteForce(_Docs(texts).tables)


def test_token_rows_follow_the_analyzer_rules():
    bf = _bf(["  Query the  TABLE data join hash row join", "row"])
    t = bf.tokens[bf.tokens.doc_id == 0].sort_values("pos")
    assert list(t.pos) == list(range(8))
    assert list(t.term) == ["queri", "the", "tabl", "data", "join", "hash", "row", "join"]
    assert list(t.weight) == [2.0] * 5 + [1.0] * 3


def test_keyword_and_phrase_scores():
    texts = ["join a table", "row", "the table join table"]
    bf = _bf(texts)
    # doc 0 is tenant t0 with doc 2; doc 1 is t1
    assert bf.keyword("t0", ["table", "join"]) == [(2, 6.0, 2), (0, 4.0, 2)]
    assert bf.phrase("t0", ["table", "join"]) == [(2, 1.0, 2)]
    assert bf.phrase("t0", ["table", "the"]) == []
    assert bf.keyword("t1", ["table"]) == []
