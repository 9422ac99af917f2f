"""Self-tests of the benchmark's own parts.

    python3 -m pytest -q perfbench/selftest.py

The generator and the oracle need no Spark; the tracing test starts a small
local session.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402


def _inputs(seed: int) -> str:
    g = gen.Generator(seed, 120, vocab_size=800)
    return gen.fingerprint(
        g.corpus.pages, g.query_stream(50), g.select_stream(20),
        *g.update_batches(3, 4),
    )


def test_same_seed_same_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generated_text_is_analyzer_stable():
    g = gen.Generator(3, 50, vocab_size=300)
    for text in g.corpus.pages["text"]:
        for w in text.split():
            assert w.isascii() and w.isalpha() and w.islower()
            assert 3 <= len(w) <= 255 and w not in gen.STOP_WORDS


def test_oracle_hand_computed_bm25():
    # N=3 docs of lengths 2, 1, 3; avgdl = 2.0.  Norm bytes: 1/sqrt(2) ->
    # byte 121 -> 0.625 -> decoded length 2.56; 1/sqrt(1) -> 124 -> 1.0;
    # 1/sqrt(3) -> 120 -> 0.5 -> 4.0.  "apple" has df=2:
    # idf = ln(1 + 1.5/2.5) = ln(1.6) = 0.47000362924573558
    # doc 1: idf*2.2*1/(1 + 1.2*(0.25 + 0.75*1.0/2))  = 0.59086170...
    # doc 0: idf*2.2*1/(1 + 1.2*(0.25 + 0.75*2.56/2)) = 0.42169983...
    o = oracle.Oracle([0, 1, 2], ["apple banana", "apple", "banana cherry cherry"])
    assert list(o.dl_approx) == [2.56, 1.0, 4.0] or o.dl_approx.tolist() == pytest.approx(
        [2.56, 1.0, 4.0], rel=1e-6)
    assert float(o.avgdl) == 2.0
    q = {"op": "term", "terms": ["apple"], "not": []}
    assert o.contract_topk(q) == [(1, 0.5909), (0, 0.4217)]
    assert o.lucene_topk(q) == [1, 0]
    assert oracle.norm_byte(2) == 121 and oracle.norm_byte(1) == 124
    assert oracle.norm_byte(3) == 120
    phrase = {"op": "phrase", "terms": ["banana", "cherry"], "not": []}
    assert [d for d, _ in o.contract_topk(phrase)] == [2]
    notq = {"op": "not", "terms": ["banana"], "not": ["cherry"]}
    assert [d for d, _ in o.contract_topk(notq)] == [0]


def test_oracle_rounds_half_up():
    assert oracle.round4(0.12345) == 0.1235
    assert oracle.round4(2.00005) == 2.0001


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from lucene_solr_spark.session import get_spark

    s = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_every_job_is_attributed(spark):
    from tracing import Tracer, job_totals

    tr = Tracer(spark)
    with tr.span("op") as op:
        spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        with tr.span("child") as child:
            spark.range(10).count()
        # jobs on another thread carry no job group: attributed by time
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(lambda: spark.range(50).count()) for _ in range(2)]
            for f in futs:
                f.result()
        time.sleep(0.01)
    tr.collect_jobs()
    assert tr.unattributed == []
    assert len(child.jobs) >= 1
    total = job_totals(tr.jobs_under(op))
    assert total["jobs"] >= 4 and total["tasks"] >= total["jobs"]
    # every job the status store knows about since the tracer started is
    # attributed to exactly one span
    ids = [j.job_id for s in tr.spans for j in s.jobs]
    assert len(ids) == len(set(ids)) == total["jobs"]
    tr.close()
