"""The benchmark's workloads: a closed loop of requests from one client.

``query_cached``  search() and /select requests over a warm in-memory index.
``store_mixed``   reads through the persisted store, with update batches and
                  store maintenance in between.

Each returns a ``Result`` holding the samples, the correctness tallies and,
in a traced run, the tracer whose spans give the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import oracle
from tracing import Tracer, job_totals, plan_metrics

K = 10
TAIL_PCT = 90  # op_tail_s is this percentile of the run's operation latencies
# Set-up builds per run.  The first runs on a cold JVM and is left out, so
# docs_per_s and setup_s take the median of the rest (here the mean of two)
# and follow the indexing path, not JIT warm-up.
QC_BUILDS = 3
SM_BUILDS = 3
QC_DOCS = 2000  # query_cached corpus size
QC_PARTITIONS = 2  # one postings partition per local core
# After each pass of the operator cycle, one /select: every 6th request.
# Latency percentiles cover whole rounds of that many requests, so every
# run's sample has the same mix.
QC_SELECT_EVERY = len(gen.OP_CYCLE) + 1
SM_DOCS = 150  # store_mixed store size
SM_VOCAB = 1500  # store_mixed vocabulary (the read decodes every term of the store)
SM_PARTITIONS = 2
SM_BATCH = 6  # documents per update batch
SM_READS_BEFORE = 2  # reads before the update batch; the rest come after it

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio",
             "op_p50_s": "s", "op_tail_s": "s", "docs_per_s": "docs/s",
             "bytes_per_text_byte": "ratio", "rank_exact_ratio": "ratio"}
LAYER_UNITS = {
    "index.build_index.wall_s": "s", "index.build_index.jobs": "count",
    "index.build_index.executor_cpu_s": "s",
    "index.build_index.shuffle_write_bytes": "bytes",
    "index.build_index.spill_bytes": "bytes",
    "store.write.wall_s": "s", "store.write.executor_cpu_s": "s",
    "store.bytes_written": "bytes", "store.commit.wall_s": "s",
    "ingest.driver_self_s": "s", "ingest.py4j_calls": "count",
    "search.construct_s": "s", "search.py4j_calls": "count",
    "search.catalyst_s": "s", "search.exec_s": "s", "search.jobs": "count",
    "search.stages": "count", "search.tasks": "count",
    "search.executor_run_s": "s", "search.shuffle_bytes": "bytes",
    "search.postings_rows_read": "count", "search.postings_useful_ratio": "ratio",
    "search.wand.wall_s": "s", "search.wand.jobs": "count",
    "search.wand.python_bytes": "bytes", "search.wand.same_queries_wall_s": "s",
    "search.parse_query_s": "s", "handler.select.wall_s": "s",
    "handler.response_collect_s": "s", "facets.facet_field.exec_s": "s",
    "facets.jobs": "count", "facets.shuffle_bytes": "bytes",
    "handler.fq_repeat_share": "ratio",
    "store.load_s": "s", "store.decode_rows": "count",
    "store.decode_useful_rows": "count", "store.decode_useful_ratio": "ratio",
    "store.decode_python_bytes": "bytes", "store.generations": "count",
    "store.delete_gens": "count",
    "streaming.update_documents_s": "s", "streaming.update_documents.jobs": "count",
    "streaming.maintain_store_s": "s", "streaming.bytes_rewritten": "bytes",
    "streaming.update_visible_s": "s",
    "trace.overhead_op_p50_s": "s", "trace.unattributed_jobs": "count",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, pct: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), pct)) if xs else 0.0


@dataclass
class Result:
    workload: str
    setup_s: float = 0.0
    docs_per_s: float = 0.0
    bytes_per_text_byte: float = 0.0
    op_latencies: list = field(default_factory=list)
    round_len: int = 1  # op_p50_s and op_tail_s use whole rounds of requests
    traced_latencies: list = field(default_factory=list)
    untraced_latencies: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rank_checked: int = 0
    rank_exact: int = 0
    notes: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)  # wall time per run phase, for the log
    traffic: dict = field(default_factory=dict)  # gen.traffic_shares of what was sent
    tracer: Tracer | None = None
    metrics_peak_rss: float = 0.0

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"failed: {what}")

    def timed(self) -> list:
        """Latencies of the run's whole rounds of requests; the requests of
        the last, partial round are sent and checked but not counted here."""
        n = len(self.op_latencies) // self.round_len * self.round_len
        return self.op_latencies[:n] or self.op_latencies

    def e2e(self) -> dict:
        lat = self.timed()
        return {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.metrics_peak_rss,
            "ok_ratio": 1.0 - self.failed / max(self.attempted, 1),
            "op_p50_s": median(lat),
            "op_tail_s": percentile(lat, TAIL_PCT),
            "docs_per_s": self.docs_per_s,
            "bytes_per_text_byte": self.bytes_per_text_byte,
            "rank_exact_ratio": self.rank_exact / max(self.rank_checked, 1),
        }

    def result_json(self, traced: bool) -> dict:
        if traced:
            metrics = {k: {"value": float(self.layers.get(k, 0.0)), "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                       for k, v in self.e2e().items()}
        return {"correct": self.correct, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def report_lines(self) -> list[str]:
        lines = [f"[{self.workload}] ops={len(self.op_latencies)} timed={len(self.timed())} "
                 f"attempted={self.attempted} failed={self.failed} "
                 f"rank_checked={self.rank_checked} tail=p{TAIL_PCT}"]
        lines += [f"  {k} = {v:.6g} {E2E_UNITS[k]}" for k, v in self.e2e().items()]
        lines += [f"  {k} = {v:.6g}" for k, v in sorted(self.layers.items())]
        lines.append("  phases: " + " ".join(f"{k}={v:.2f}" for k, v in self.phases.items()))
        lines.append("  traffic: " + json.dumps(self.traffic))
        lines.append("  op latencies: " + " ".join(f"{x:.3f}" for x in self.op_latencies))
        lines += [f"  note: {n}" for n in self.notes[:20]]
        return lines


# -- shared helpers -----------------------------------------------------------


def _guarded(res: Result, fn, *args):
    """Run one request; one that raises counts as failed, and the loop goes on."""
    try:
        return fn(*args)
    except Exception as e:  # noqa: BLE001 -- the request loop must keep running
        res.check(False, f"{fn.__name__} raised {type(e).__name__}: {str(e)[:300]}")
        return None


def _engine_query(q: dict):
    from lucene_solr_spark.search.query import BooleanQuery, PhraseQuery

    if q["op"] == "phrase":
        return PhraseQuery(tuple(q["terms"]))
    if q["op"] == "or":
        return BooleanQuery.of(should=q["terms"])
    return BooleanQuery.of(must=q["terms"], must_not=q["not"])


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"])) for r in df_rows]


def _check_topk(res: Result, got, o: oracle.Oracle, q: dict, what: str, mask=None):
    want = o.contract_topk(q, K, mask)
    res.check(oracle.same_topk(got, want), f"{what}: got {got[:3]} want {want[:3]}")
    if want:
        res.rank_checked += 1
        res.rank_exact += [d for d, _ in got] == o.lucene_topk(q, K, mask)


def _dir_bytes(path: str, since: float | None = None) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def _layer_median(spans, fn) -> float:
    return median(map(fn, spans))


def _spans(tr: Tracer, name: str):
    return [s for s in tr.spans if s.name == name]


# -- query_cached ---------------------------------------------------------------


def query_cached(spark, work: str, seed: int, seconds: float, traced: bool, session_s: float,
                 select_every: int = QC_SELECT_EVERY, name: str = "query_cached") -> Result:
    """BM25 top-10 search() calls plus faceted /select requests over a warm
    in-memory index (positions on); every ``select_every``-th request is a
    /select."""
    from lucene_solr_spark import handler
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.bm25 import search
    from lucene_solr_spark.search.parser import parse_query
    from lucene_solr_spark.search.wand import wand_search

    res = Result(name, round_len=select_every)
    t0 = time.perf_counter()
    g = gen.Generator(seed, QC_DOCS)
    queries = g.query_stream(600)
    selects = g.select_stream(150)
    pages = g.corpus.pages
    src = spark.createDataFrame(pages[["url", "warc_ts", "html", "text", "lang", "doc_id"]])
    stored = spark.createDataFrame(
        pages[["doc_id", "lang", "host"]].rename(columns={"doc_id": "docid"})
    ).cache()
    stored.count()
    gen_s = time.perf_counter() - t0
    tr = Tracer(spark, enabled=traced)
    cached_before = _cached_bytes(spark)

    def build(prev):
        if prev is not None:
            # blocking, so the cache delta below holds the last build only
            for df in prev.cached:
                df.unpersist(blocking=True)
        with tr.span("ingest", kind="build_index"):
            b0 = time.perf_counter()
            with tr.span("index.build_index"):
                idx = build_index(
                    spark, src, key_col="url", text_col="text", docid_col="doc_id",
                    num_index_partitions=QC_PARTITIONS, passthrough_cols=("lang",),
                    build_positions=True,
                )
                idx.docs.count()
                idx.postings.count()
                idx.positions.count()
            builds.append(time.perf_counter() - b0)
        return idx

    builds: list[float] = []
    idx = build(None)  # on a cold JVM
    o = oracle.Oracle(pages["doc_id"], pages["text"])
    hosts = pages["host"].to_numpy()
    langs = pages["lang"].to_numpy()

    def warm(rnd: int) -> float:
        """One untimed round of requests from the far end of the streams
        (the timed loop starts at their head)."""
        w0 = time.perf_counter()
        back = (rnd + 1) * select_every
        for i in range(select_every):
            if i % select_every == select_every - 1:
                _select(handler, idx, stored, selects[i - back])
            else:
                search(idx, _engine_query(queries[i - back]), k=K).collect()
        tr.skip_pending()  # untraced jobs, not to be counted by the next span
        return time.perf_counter() - w0

    # Warm-up counts as set-up.  On a fresh JVM the first requests are
    # markedly slower than the rest, so one round runs before the warm
    # builds that docs_per_s is taken from (less JIT compilation overlaps
    # them), and the first requests on a freshly built index are slow again,
    # so a second round runs on the last build, which the loop queries.
    warm_s = warm(0)
    for _ in range(1, QC_BUILDS):
        idx = build(idx)
    text_bytes = int(pages["text"].str.len().sum())
    res.bytes_per_text_byte = (_cached_bytes(spark) - cached_before) / text_bytes
    warm_s += warm(1)
    res.phases.update(gen=gen_s, warm=warm_s,
                      **{f"build{i}": b for i, b in enumerate(builds)})
    res.docs_per_s = QC_DOCS / median(builds[1:])
    res.setup_s = session_s + gen_s + median(builds[1:]) + warm_s
    if traced:
        from lucene_solr_spark.index.compress import get_compressed

        get_compressed(idx).count()  # WAND's compressed view, built once
    tr.skip_pending()

    def do_select(s: dict, on: bool) -> float:
        a = time.perf_counter()
        with tr.span("handler.select") if on else contextlib.nullcontext():
            if on:
                p0 = time.time()
                parse_query(s["q"])
                tr.add_span("search.parse_query", p0, time.time())
            out = _select(handler, idx, stored, s, tr if on else None)
        lat = time.perf_counter() - a
        mask = o.fq_mask(s["fq"])
        _check_topk(res, out["response"], o, s["query"], f"select {s['q']!r} fq={s['fq']}", mask)
        rows = o.matches(s["query"], mask)
        res.check(out["num_found"] == len(rows), f"numFound {s['q']!r}")
        res.check(out["lang"] == oracle.facet_counts(pd.Series(langs[rows])), "lang facet")
        res.check(out["host"] == oracle.facet_counts(pd.Series(hosts[rows])), "host facet")
        return lat

    def do_search(q: dict, on: bool) -> float:
        a = time.perf_counter()
        with tr.span("search", op=q["op"]) if on else contextlib.nullcontext() as sp:
            df = search(idx, _engine_query(q), k=K)
            c = time.perf_counter()
            got = _rows(df.collect())
            e = time.perf_counter()
        lat = time.perf_counter() - a
        if on:
            sp.attrs.update(construct_s=c - a, exec_s=e - c)
            with tr.py4j.paused():
                sp.attrs.update(plan_metrics(df))
            sp.attrs["useful_rows"] = sum(o.df(t) for t in q["terms"] + q["not"])
        _check_topk(res, got, o, q, f"search {q}")
        if on and q["op"] != "phrase":
            with tr.span("search.wand", op=q["op"]) as wsp:
                wdf = wand_search(idx, _engine_query(q), k=K)
                wgot = _rows(wdf.collect())
            with tr.py4j.paused():
                wsp.attrs.update(plan_metrics(wdf))
            wsp.attrs["search_wall_s"] = lat
            res.check(oracle.same_topk(wgot, o.contract_topk(q, K)), f"wand {q}")
        return lat

    loop0 = time.perf_counter()
    deadline = loop0 + seconds
    qi = si = i = 0
    while time.perf_counter() < deadline:
        on = traced and i % 2 == 1
        if i % select_every == select_every - 1:
            lat = _guarded(res, do_select, selects[si % len(selects)], on)
            si += 1
        else:
            lat = _guarded(res, do_search, queries[qi % len(queries)], on)
            qi += 1
        if lat is not None:
            res.op_latencies.append(lat)
            (res.traced_latencies if on else res.untraced_latencies).append(lat)
        if traced and not on:
            tr.skip_pending()
        i += 1

    res.phases["loop"] = time.perf_counter() - loop0
    res.traffic = gen.traffic_shares(
        g, queries[:qi] + [s["query"] for s in selects[:si]], selects[:si], [])
    if traced:
        _query_layers(res, tr)
        _ingest_layers(res, tr)
        _finish_trace(res, tr)
    return res


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _select(handler, idx, stored, s, tr: Tracer | None = None):
    params = {"q": s["q"], "fq": list(s["fq"]), "rows": K,
              "facet.field": ["lang", "host"]}
    out = handler.select(idx, params, stored=stored)
    c0 = time.time()
    resp = _rows(out["response"].collect())
    c1 = time.time()
    facets = {}
    for name, fdf in out["facet_fields"].items():
        f0 = time.time()
        facets[name] = [(str(r["facet_term"]), int(r["facet_count"])) for r in fdf.collect()]
        if tr is not None:
            tr.add_span("facets.facet_field", f0, time.time(), field=name)
    if tr is not None:
        tr.add_span("handler.response_collect", c0, c1)
    return {"response": resp, "num_found": out["num_found"], **facets}


def _query_layers(res: Result, tr: Tracer) -> None:
    L = res.layers
    srch = _spans(tr, "search")
    _search_layers(L, tr, srch)
    L["search.postings_rows_read"] = _layer_median(srch, lambda s: s.attrs["cache_rows"])
    read = sum(s.attrs["cache_rows"] for s in srch)
    L["search.postings_useful_ratio"] = (
        sum(s.attrs["useful_rows"] for s in srch) / read if read else 0.0)
    wand = _spans(tr, "search.wand")
    L["search.wand.wall_s"] = _layer_median(wand, lambda s: s.dur)
    L["search.wand.same_queries_wall_s"] = _layer_median(wand, lambda s: s.attrs["search_wall_s"])
    L["search.wand.jobs"] = _layer_median(wand, lambda s: len(tr.jobs_under(s)))
    L["search.wand.python_bytes"] = _layer_median(wand, lambda s: s.attrs["pandas_python_bytes"])
    sel = _spans(tr, "handler.select")
    L["handler.select.wall_s"] = _layer_median(sel, lambda s: s.dur)
    L["search.parse_query_s"] = _layer_median(_spans(tr, "search.parse_query"), lambda s: s.dur)
    L["handler.response_collect_s"] = _layer_median(
        _spans(tr, "handler.response_collect"), lambda s: s.dur)
    ff = _spans(tr, "facets.facet_field")
    L["facets.facet_field.exec_s"] = _layer_median(ff, lambda s: s.dur)
    L["facets.jobs"] = _layer_median(ff, lambda s: len(s.jobs))
    L["facets.shuffle_bytes"] = _layer_median(ff, lambda s: job_totals(s.jobs)["shuffle_bytes"])
    L["handler.fq_repeat_share"] = res.traffic.get("fq_repeat_share", 0.0)


def _search_layers(L: dict, tr: Tracer, spans) -> None:
    """search.* metrics over spans around load + search() + collect."""
    for k in ("construct_s", "exec_s", "py4j_calls", "catalyst_s"):
        L[f"search.{k}"] = _layer_median(spans, lambda s: s.attrs[k])
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes"):
        L[f"search.{k}"] = _layer_median(spans, lambda s: job_totals(tr.jobs_under(s))[k])


def _ingest_layers(res: Result, tr: Tracer) -> None:
    L = res.layers
    bi = _spans(tr, "index.build_index")
    L["index.build_index.wall_s"] = _layer_median(bi, lambda s: s.dur)
    L["index.build_index.jobs"] = _layer_median(bi, lambda s: len(tr.jobs_under(s)))
    L["index.build_index.executor_cpu_s"] = _layer_median(
        bi, lambda s: job_totals(tr.jobs_under(s))["executor_cpu_s"])
    L["index.build_index.shuffle_write_bytes"] = _layer_median(
        bi, lambda s: job_totals(tr.jobs_under(s))["shuffle_write_bytes"])
    L["index.build_index.spill_bytes"] = _layer_median(
        bi, lambda s: job_totals(tr.jobs_under(s))["spill_bytes"])
    ing = _spans(tr, "ingest")
    L["ingest.driver_self_s"] = _layer_median(ing, tr.self_time)
    L["ingest.py4j_calls"] = _layer_median(ing, lambda s: s.attrs["py4j_calls"])
    wr = _spans(tr, "store.write")
    L["store.write.wall_s"] = _layer_median(wr, lambda s: s.dur)
    L["store.write.executor_cpu_s"] = _layer_median(
        wr, lambda s: job_totals(tr.jobs_under(s))["executor_cpu_s"])
    L["store.bytes_written"] = _layer_median(ing, lambda s: s.attrs.get("bytes_written", 0))
    L["store.commit.wall_s"] = _layer_median(_spans(tr, "store.commit"), lambda s: s.dur)


def _finish_trace(res: Result, tr: Tracer) -> None:
    tr.collect_jobs()
    res.layers["trace.unattributed_jobs"] = len(tr.unattributed)
    res.layers["trace.overhead_op_p50_s"] = (
        median(res.traced_latencies) - median(res.untraced_latencies))
    tr.close()
    res.tracer = tr


# -- store_mixed ----------------------------------------------------------------


class StoreView:
    """What the store holds, read straight from its files with pyarrow."""

    def __init__(self, root: str):
        self.root = root

    def snapshot(self) -> dict:
        with open(os.path.join(self.root, "HEAD")) as f:
            sid = f.read().strip()
        with open(os.path.join(self.root, "snapshots", f"snap-{sid}.json")) as f:
            return json.load(f)

    def _table(self, sub: str, columns: list[str], snap: dict, flt=None) -> pd.DataFrame:
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(self.root, sub), format="parquet",
                       partitioning="hive").to_table(columns=columns + ["gen"], filter=flt)
        d = t.to_pandas()
        return d[d["gen"].astype(int).isin(snap["gens"])]

    def docs(self) -> pd.DataFrame:
        """docid, url and liveness of every document in the head snapshot."""
        import pyarrow.dataset as ds

        snap = self.snapshot()
        d = self._table("docs", ["docid", "url"], snap)
        dead: set[int] = set()
        for g in snap.get("delete_gens") or []:
            p = os.path.join(self.root, "deletes", f"dgen={g}")
            dead.update(ds.dataset(p, format="parquet").to_table().column("docid").to_pylist())
        d = d.assign(live=~d["docid"].isin(dead))
        return d[["docid", "url", "live"]].reset_index(drop=True)

    def docids_holding(self, terms) -> dict[str, list[int]]:
        """term -> docids whose postings hold it, for terms of document
        frequency 1 per segment row (each row's ``first_docid``)."""
        import pyarrow.dataset as ds

        seg = self._table("segments", ["term", "df_part", "first_docid"], self.snapshot(),
                          ds.field("term").isin(list(terms)))
        out: dict[str, list[int]] = {}
        for t, n, d in zip(seg["term"], seg["df_part"], seg["first_docid"]):
            out.setdefault(str(t), []).extend([int(d)] * int(n))
        return out


class StoreOracle:
    """Oracle over the store, checked against what the generator sent.

    ``expected`` maps every generated url to the marker word of its current
    version.  ``sync`` reads the store's files and checks that each url is
    live exactly once, at the docid whose postings hold its current marker,
    and that every other document is a dead earlier version of its url.
    The reference index is then built from the generated texts."""

    def __init__(self, pages: pd.DataFrame, view: StoreView):
        self.view = view
        self.expected = dict(zip(pages["url"], pages["marker"]))
        self.text_of = dict(zip(pages["marker"], pages["text"]))  # every version sent
        self.url_of = dict(zip(pages["marker"], pages["url"]))
        self.live_docid: dict[str, int] = {}

    def apply(self, batch: pd.DataFrame) -> None:
        """Expect the batch's versions from now on."""
        for u, m, t in zip(batch["url"], batch["marker"], batch["text"]):
            self.expected[u], self.text_of[m], self.url_of[m] = m, t, u

    def sync(self, res: Result, when: str) -> None:
        d = self.view.docs()
        live = d[d["live"]]
        res.check(sorted(live["url"]) == sorted(self.expected),
                  f"{when}: every generated url live exactly once")
        holding = self.view.docids_holding(self.text_of)
        res.check(all(len(ids) == 1 for ids in holding.values()),
                  f"{when}: every version in at most one document")
        version = {ids[0]: m for m, ids in holding.items()}
        ok = True
        for docid, url, is_live in zip(d["docid"], d["url"], d["live"]):
            m = version.get(int(docid))
            ok &= (m is not None and self.url_of[m] == url
                   and (m == self.expected[url]) == bool(is_live))
        res.check(ok, f"{when}: each document a generated version of its url, "
                      "live exactly when current")
        self.live_docid = {u: int(i) for u, i in zip(live["url"], live["docid"])}
        known = d[d["docid"].astype(int).isin(version)]
        ids = known["docid"].astype(np.int64).to_numpy()
        self.oracle = oracle.Oracle(ids, [self.text_of[version[int(i)]] for i in ids],
                                    known["live"].to_numpy())


def store_mixed(spark, work: str, seed: int, seconds: float, traced: bool, session_s: float) -> Result:
    """Reads through load_streaming_index + search().  After SM_READS_BEFORE
    reads, one update batch, one read that must see the new versions and not
    the old ones, and one maintain_store pass; then reads to the end.  The
    update comes after a fixed number of reads, not at a fixed time, so every
    run's sample has the same mix however fast the host is."""
    from lucene_solr_spark.search.bm25 import search
    from lucene_solr_spark.streaming import incremental
    from lucene_solr_spark.streaming.incremental import (
        PAGES_DDL,
        StreamingIndexer,
        load_streaming_index,
        maintain_store,
        update_documents,
    )

    res = Result("store_mixed")
    t0 = time.perf_counter()
    g = gen.Generator(seed, SM_DOCS, vocab_size=SM_VOCAB)
    queries = g.query_stream(400)
    batches = g.update_batches(1, SM_BATCH)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    pages_df = spark.createDataFrame(g.corpus.pages[cols], PAGES_DDL)
    gen_s = time.perf_counter() - t0
    tr = Tracer(spark, enabled=traced)
    unpatch = _patch_store_layers(tr, incremental) if traced else (lambda: None)

    def build(root: str) -> float:
        with tr.span("ingest", kind="process_batch") as sp:
            b0 = time.perf_counter()
            StreamingIndexer(spark, root, SM_PARTITIONS).process_batch(pages_df, 0)
            b = time.perf_counter() - b0
            if sp is not None:
                sp.attrs["bytes_written"] = _dir_bytes(root)
        return b

    # the store the run reads, built on a cold JVM
    root = os.path.join(work, "store")
    builds = [build(root)]
    text_bytes = int(g.corpus.pages["text"].str.len().sum())
    res.bytes_per_text_byte = _dir_bytes(root) / text_bytes
    view = StoreView(root)
    so = StoreOracle(g.corpus.pages, view)
    so.sync(res, "initial build")
    # one untimed read warms the decode path; it counts as set-up
    w0 = time.perf_counter()
    search(load_streaming_index(spark, root), _engine_query(queries[-1]), k=K).collect()
    res.phases["warm"] = time.perf_counter() - w0
    tr.skip_pending()
    # the warm builds that docs_per_s is taken from, each into a fresh store
    # that is removed after it; they run after the warm-up read so that less
    # JIT compilation overlaps them
    for rep in range(1, SM_BUILDS):
        scratch = os.path.join(work, f"store-{rep}")
        builds.append(build(scratch))
        shutil.rmtree(scratch, ignore_errors=True)
    res.phases.update(gen=gen_s, **{f"build{i}": b for i, b in enumerate(builds)})
    res.docs_per_s = SM_DOCS / median(builds[1:])
    res.setup_s = session_s + gen_s + median(builds[1:]) + res.phases["warm"]
    tr.skip_pending()

    def read(q: dict, on: bool):
        a = time.perf_counter()
        with tr.span("store.read", op=q["op"]) if on else contextlib.nullcontext() as sp:
            idx = load_streaming_index(spark, root)
            b = time.perf_counter()
            df = search(idx, _engine_query(q), k=K)
            c = time.perf_counter()
            got = _rows(df.collect())
            e = time.perf_counter()
        lat = time.perf_counter() - a
        if on:
            snap = view.snapshot()
            sp.attrs.update(load_s=b - a, construct_s=c - b, exec_s=e - c,
                            generations=len(snap["gens"] or []),
                            delete_gens=len(snap.get("delete_gens") or []))
            with tr.py4j.paused():
                sp.attrs.update(plan_metrics(df))
            sp.attrs["useful_rows"] = sum(so.oracle.df(t) for t in q["terms"] + q["not"])
        return lat, got

    vis, upd = [], []  # update-to-visible and update_documents seconds

    def do_read(q: dict, on: bool) -> float:
        lat, got = read(q, on)
        _check_topk(res, got, so.oracle, q, f"read {q}")
        return lat

    def do_update(batch: pd.DataFrame) -> float:
        """One update batch, the read that must show it, and maintenance;
        returns the latency of that read."""
        a = time.perf_counter()
        with tr.span("streaming.update_documents") as sp:
            s0 = time.time()
            update_documents(spark, root, spark.createDataFrame(batch[cols], PAGES_DDL))
            if sp is not None:
                sp.attrs["bytes_written"] = _dir_bytes(root, since=s0)
        upd.append(time.perf_counter() - a)
        # one read must return the new versions and none of the old ones
        vis_q = {"op": "or", "terms": list(batch["marker"]) + list(batch["old_marker"]),
                 "not": []}
        with tr.span("streaming.visibility") if traced else contextlib.nullcontext():
            lat, got = read(vis_q, False)
        vis.append(time.perf_counter() - a)
        so.apply(batch)
        so.sync(res, "after update_documents")
        _check_topk(res, got, so.oracle, vis_q, "visibility read")
        res.check(sorted(d for d, _ in got)
                  == sorted(so.live_docid.get(u, -1) for u in batch["url"]),
                  "new versions found and old ones gone")
        if traced:
            tr.skip_pending()
        with tr.span("streaming.maintain_store") as sp:
            s0 = time.time()
            maintain_store(spark, root)
            if sp is not None:
                sp.attrs["bytes_rewritten"] = _dir_bytes(root, since=s0)
        so.sync(res, "after maintain_store")
        return lat

    loop0 = time.perf_counter()
    deadline = loop0 + seconds
    qi = bi = i = 0
    while time.perf_counter() < deadline:
        if bi or qi < SM_READS_BEFORE:
            on = traced and i % 2 == 1
            lat = _guarded(res, do_read, queries[qi % len(queries)], on)
            qi += 1
            i += 1
            if lat is not None:
                (res.traced_latencies if on else res.untraced_latencies).append(lat)
        else:
            on = False
            lat = _guarded(res, do_update, batches[bi])
            bi += 1
        if lat is not None:
            res.op_latencies.append(lat)
        if traced and not on:
            tr.skip_pending()

    res.phases["loop"] = time.perf_counter() - loop0
    res.traffic = gen.traffic_shares(g, queries[:qi], [], batches[:bi])
    unpatch()
    if traced:
        L = res.layers
        L["streaming.update_visible_s"] = median(vis)
        L["streaming.update_documents_s"] = median(upd)
        us = _spans(tr, "streaming.update_documents")
        L["streaming.update_documents.jobs"] = _layer_median(us, lambda s: len(tr.jobs_under(s)))
        ms = _spans(tr, "streaming.maintain_store")
        L["streaming.maintain_store_s"] = _layer_median(ms, lambda s: s.dur)
        L["streaming.bytes_rewritten"] = _layer_median(ms, lambda s: s.attrs["bytes_rewritten"])
        rd = _spans(tr, "store.read")
        L["store.load_s"] = _layer_median(rd, lambda s: s.attrs["load_s"])
        L["store.decode_rows"] = _layer_median(rd, lambda s: s.attrs["decode_rows"])
        L["store.decode_useful_rows"] = _layer_median(rd, lambda s: s.attrs["useful_rows"])
        dec = sum(s.attrs["decode_rows"] for s in rd)
        L["store.decode_useful_ratio"] = (
            sum(s.attrs["useful_rows"] for s in rd) / dec if dec else 0.0)
        L["store.decode_python_bytes"] = _layer_median(rd, lambda s: s.attrs["decode_python_bytes"])
        L["store.generations"] = _layer_median(rd, lambda s: s.attrs["generations"])
        L["store.delete_gens"] = _layer_median(rd, lambda s: s.attrs["delete_gens"])
        _search_layers(L, tr, rd)
        ing = _spans(tr, "ingest") + us
        _ingest_layers(res, tr)
        L["store.bytes_written"] = _layer_median(ing, lambda s: s.attrs.get("bytes_written", 0))
        _finish_trace(res, tr)
    else:
        res.notes.append(f"update_visible_s samples: {[round(v, 3) for v in vis]}")
    return res


def _patch_store_layers(tr: Tracer, caller):
    """Wrap the engine calls inside a store write path so that the trace
    sees build_index (as called from module ``caller``), the writes after it
    and the snapshot commit."""
    from lucene_solr_spark.store import store as store_mod

    orig_build = caller.build_index
    orig_commit = store_mod.IndexStore.commit
    state = {"built": None}

    def build_index(*a, **kw):
        with tr.span("index.build_index"):
            out = orig_build(*a, **kw)
        state["built"] = time.time()
        return out

    def commit(self, snap):
        if state["built"] is not None:
            tr.add_span("store.write", state["built"], time.time())
            state["built"] = None
        with tr.span("store.commit"):
            return orig_commit(self, snap)

    caller.build_index = build_index
    store_mod.IndexStore.commit = commit

    def unpatch():
        caller.build_index = orig_build
        store_mod.IndexStore.commit = orig_commit

    return unpatch


# -- workloads runnable by name but not in BENCHMARK.json -------------------------
# Each run pays ~6 s of JVM start and 10-15 s of cold-JVM warm-up, so only two
# workloads fit the benchmark's time budget.  These two isolate a layer that
# the listed workloads exercise only in part.

IN_DOCS = 150  # pages per ingest build


def ingest(spark, work: str, seed: int, seconds: float, traced: bool, session_s: float) -> Result:
    """Repeated build_pages_to_store of a fresh seeded pages table into a new
    store; every query layer is idle.  Each store is checked against its
    pages: document count, total term frequency and every term's document
    frequency, read back from the store's files."""
    from lucene_solr_spark.store import store as store_mod
    from lucene_solr_spark.streaming.incremental import PAGES_DDL

    res = Result("ingest")
    t0 = time.perf_counter()
    g = gen.Generator(seed, IN_DOCS, vocab_size=SM_VOCAB)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    tables = [g.corpus.pages] + [g.more_pages(IN_DOCS, k * IN_DOCS) for k in range(1, 30)]
    gen_s = time.perf_counter() - t0
    tr = Tracer(spark, enabled=traced)
    unpatch = _patch_store_layers(tr, store_mod) if traced else (lambda: None)

    def build(k: int) -> float:
        pages = tables[k % len(tables)]
        root = os.path.join(work, f"ingest-{k}")
        df = spark.createDataFrame(pages[cols], PAGES_DDL)
        with tr.span("ingest", kind="build_pages_to_store") as sp:
            a = time.perf_counter()
            store_mod.build_pages_to_store(spark, df, root, num_index_partitions=SM_PARTITIONS)
            lat = time.perf_counter() - a
            if sp is not None:
                sp.attrs["bytes_written"] = _dir_bytes(root)
        _check_store(res, root, pages)
        res.bytes_per_text_byte = _dir_bytes(root) / int(pages["text"].str.len().sum())
        shutil.rmtree(root, ignore_errors=True)
        return lat

    first = build(0)  # on a cold JVM: counts as set-up
    res.setup_s = session_s + gen_s + first
    tr.skip_pending()
    loop0 = time.perf_counter()
    deadline = loop0 + seconds
    k = 1
    while time.perf_counter() < deadline:
        res.op_latencies.append(build(k))
        k += 1
    res.phases.update(gen=gen_s, loop=time.perf_counter() - loop0)
    res.docs_per_s = IN_DOCS / median(res.op_latencies)
    unpatch()
    if traced:
        _ingest_layers(res, tr)
        _finish_trace(res, tr)
    return res


def _check_store(res: Result, root: str, pages: pd.DataFrame) -> None:
    import pyarrow.dataset as ds

    snap = StoreView(root).snapshot()
    toks = [t.split() for t in pages["text"]]
    res.check(snap["max_doc"] == len(pages), "ingest max_doc")
    res.check(snap["sum_total_term_freq"] == sum(len(t) for t in toks),
              "ingest sum_total_term_freq")
    seg = ds.dataset(os.path.join(root, "segments"), format="parquet", partitioning="hive")
    got = seg.to_table(columns=["term", "df_part"]).to_pandas().groupby("term")["df_part"].sum()
    want: dict[str, int] = {}
    for t in toks:
        for w in set(t):
            want[w] = want.get(w, 0) + 1
    res.check({str(k): int(v) for k, v in got.items()} == want,
              "ingest per-term document frequencies")


def select_facet(spark, work: str, seed: int, seconds: float, traced: bool, session_s: float) -> Result:
    """query_cached with every request a faceted /select."""
    return query_cached(spark, work, seed, seconds, traced, session_s, select_every=1,
                        name="select_facet")


WORKLOADS = {"query_cached": query_cached, "store_mixed": store_mixed,
             "ingest": ingest, "select_facet": select_facet}
