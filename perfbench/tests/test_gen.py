"""The generator is a pure function of the seed."""

import filecmp
import os

import gen


def test_corpus_pool_and_stream_repeat_per_seed():
    a, b = gen.corpus(5, 500), gen.corpus(5, 500)
    assert a.equals(b)
    assert not a.equals(gen.corpus(6, 500))
    pa, pb = gen.query_pool(5, a, 8), gen.query_pool(5, b, 8)
    assert pa == pb
    sa, sb = gen.query_stream(5, pa, 300), gen.query_stream(5, pb, 300)
    assert sa == sb
    assert sa != gen.query_stream(6, pa, 300)


def test_stream_follows_the_shapes_and_repeats():
    docs = gen.corpus(1, 500)
    pool = gen.query_pool(1, docs, 15)
    drawn = gen.query_stream(1, pool, 200)
    assert [k for k, _ in drawn[:20]] == list(range(10)) * 2
    props = gen.stream_properties(pool, drawn)
    assert props["kind_mix"] == {"bm25": 0.2, "facet": 0.2, "search": 0.6}
    assert props["clause_count_mix"] == {"1": 0.3333, "2": 0.5, "3": 0.1667}
    assert 0 < props["repeat_share"] < 1


def test_file_drop_is_byte_identical(tmp_path):
    evals = gen.eval_set(9)
    assert evals == gen.eval_set(9)
    pa = gen.stream_drop(9, 3, 100, str(tmp_path / "a"), evals)
    pb = gen.stream_drop(9, 3, 100, str(tmp_path / "b"), evals)
    assert pa == pb
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b",
                                           names, shallow=False)
    assert not mismatch and not errors
    # equal-size files, offset-ordered by mtime
    mtimes = [os.path.getmtime(tmp_path / "a" / n) for n in names]
    assert mtimes == sorted(mtimes)
    rows = gen.read_drop(str(tmp_path / "a"))
    assert len(rows) == 300
    assert [r["kafka_offset"] for r in rows] == list(range(300))
    assert pa["invalid_share"] == 0.03 and pa["overlap_share"] == 0.05
