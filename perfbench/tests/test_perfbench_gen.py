import numpy as np

import gen

SCALE = gen.SCALES["sf0.001"]


def test_tables_are_a_function_of_the_seed():
    a, b = gen.make_tables(7, SCALE), gen.make_tables(7, SCALE)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    c = gen.make_tables(8, SCALE)
    assert not c["documents"].equals(a["documents"])
    assert not c["lineitem"].equals(a["lineitem"])


def test_table_shapes_follow_the_scale():
    t = gen.make_tables(1, SCALE)
    assert t["lineitem"].num_rows == SCALE.lineitem
    assert t["documents"].num_rows == SCALE.documents
    assert t["embeddings"].num_rows == SCALE.embeddings
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert t["embeddings"].column("embedding")[0].values.type.bit_width == 32


def test_serve_schedule_is_deterministic_and_covers_every_mode():
    t = gen.make_tables(3, SCALE)
    a = gen.serve_requests(3, t, 2.0, 10)
    assert a == gen.serve_requests(3, t, 2.0, 10)
    assert a != gen.serve_requests(4, t, 2.0, 10)
    assert all(0 < r["due"] < 10 for r in a)
    assert [r["due"] for r in a] == sorted(r["due"] for r in a)
    assert len(a) == 2 * gen.BLOCK
    modes = [r["mode"] for r in a]
    assert sorted(modes[: gen.BLOCK]) == sorted(gen.SERVE_MODES)
    assert sorted(modes[gen.BLOCK :]) == sorted(gen.SERVE_MODES)
    assert {r["tenant"] for r in a} <= set(gen.TENANTS)


def test_request_shapes_do_not_depend_on_the_seed():
    t = gen.make_tables(3, SCALE)

    def days(r):
        if r["mode"] != "rollup":
            return 0
        return int((np.datetime64(r["end"]) - np.datetime64(r["start"])).astype(int))

    def shapes(seed):
        reqs = gen.serve_requests(seed, t, 1.0, 30)
        return sorted((r["mode"], r.get("grain", ""), days(r)) for r in reqs)

    assert shapes(1) == shapes(2)


def test_mode_requests_draw_one_request_per_mode():
    t = gen.make_tables(3, SCALE)
    modes = ("keyword", "substring", "vector", "rollup")
    a = gen.mode_requests(9, t, modes)
    assert a == gen.mode_requests(9, t, modes)
    assert [r["mode"] for r in a] == list(modes)
    assert a != gen.mode_requests(10, t, modes)


def test_every_generated_word_has_a_hand_worked_stem():
    t = gen.make_tables(2, SCALE)
    words = {w for text in t["documents"].column("text").to_pylist() for w in text.split()}
    for b in gen.ingest_batches(2, t, 2, 8):
        words |= {w for _, _, text in b["docs"] for w in text.split()}
    assert words <= set(gen.PORTER_STEMS)


def test_repeat_share():
    reqs = [{"id": i, "due": i, "mode": "keyword", "terms": ["a"]} for i in range(4)]
    assert gen.repeat_share(reqs) == 0.75
    reqs[1]["terms"] = ["b"]
    assert gen.repeat_share(reqs) == 0.5
    assert gen.repeat_share([]) == 0.0


def test_ingest_batches_never_touch_a_deleted_document():
    t = gen.make_tables(5, SCALE)
    batches = gen.ingest_batches(5, t, 3, 12)
    assert batches == gen.ingest_batches(5, t, 3, 12)
    dead: set[int] = set()
    for b in batches:
        upserted = {d for d, _, _ in b["docs"]}
        assert not upserted & dead
        assert not upserted & set(b["deleted"])
        dead |= set(b["deleted"])
        assert len(b["vec_ids"]) == len(b["vecs"]) == len(b["labels"])
