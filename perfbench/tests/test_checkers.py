"""A planted wrong answer is counted as a failed operation."""

import oracle
import workloads as W
from spans import Tracer


def _search_workload(tmp_path):
    ctx = W.Ctx(spark=None, tracer=Tracer(enabled=False),
                work=str(tmp_path), seed=4, seconds=1, traced=False)
    wl = W.KgSearch(ctx)
    ref = oracle.SearchOracle(f"{ctx.data_dir}/documents.parquet")
    try:
        picks = [(0, 0), (1, 0), (3, 0), (9, 2)]   # search, bm25, facet, paged
        wl.results = [((k, i), ref.expected(wl.pool[k][i]))
                      for k, i in picks]
    finally:
        ref.close()
    return ctx, wl


def test_reference_answers_pass(tmp_path):
    ctx, wl = _search_workload(tmp_path)
    wl.check()
    assert ctx.attempted == 4 and ctx.failed == 0


def test_planted_wrong_search_answer_fails(tmp_path):
    ctx, wl = _search_workload(tmp_path)
    for k, (i, rows) in enumerate(wl.results):
        if rows:
            bad = list(rows)
            bad[0] = (*bad[0][:-1], bad[0][-1] + 1.0)   # wrong score
            wl.results[k] = (i, bad)
            break
    wl.check()
    assert ctx.failed == 1
    assert ctx.failed / ctx.attempted > 0


def test_planted_wrong_stream_row_fails(tmp_path):
    import gen
    import pandas as pd

    evals = gen.eval_set(2)
    gen.stream_drop(2, 2, 80, str(tmp_path), evals)
    rows = gen.read_drop(str(tmp_path))
    want = oracle.stream_reference(rows, evals)
    kg = [{"email": [{"value": e} for e in oracle.EMAIL_RE.findall(t)]}
          for t in want["text"]]
    good = want.assign(knowledge_graph=kg)
    assert oracle.check_stream_table(good, [rows], evals) == []
    bad = good.copy()
    bad.loc[0, "kafka_offset"] = -1
    assert oracle.check_stream_table(bad, [rows], evals)
    assert oracle.check_stream_table(good.iloc[1:], [rows], evals)
    # invalid rows, exact copies and eval quotes never reach the table
    assert want["doc_id"].notna().all()
    assert len(want) < len(pd.DataFrame(rows).dropna(subset=["doc_id"]))
