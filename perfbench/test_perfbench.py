"""The benchmark's own tests: the tail rule, generator determinism, CPU
accounting over the process tree, the output checkers rejecting a
planted wrong answer, and the traced run's attribution adding up. No
Spark session is started.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, procs
from perfbench.stats import percentile, tail_percentile
from perfbench.workloads import Monitor, Run, _check_ingest


# -- tail rule -----------------------------------------------------------------

@pytest.mark.parametrize("n, p", [(1000, 99), (100, 90), (40, 75), (20, 50),
                                  (19, 100), (10, 100), (3, 100)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    xs = list(range(1, n + 1))
    beyond = sum(1 for x in xs if x > percentile(xs, p))
    assert beyond >= 10 or p == 100
    if p < 99:  # one percentile higher would leave fewer than ten beyond
        assert sum(1 for x in xs if x > percentile(xs, p + 1)) < 10


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


# -- generator -----------------------------------------------------------------

def _chain_bytes(c: gen.Chain) -> bytes:
    buf = io.BytesIO()
    pq.write_table(c.pool, buf)
    return b"".join(c.docs) + c.tx_msg.tobytes() + buf.getvalue()


def _store_bytes(st: gen.Store) -> bytes:
    return repr((st.queue, st.failed, st.state)).encode() + \
        st.block_heights.tobytes() + st.block_ages.tobytes()


def test_same_seed_same_inputs_other_seed_other_inputs():
    a = _chain_bytes(gen.make_chain(7, 100, 300))
    assert a == _chain_bytes(gen.make_chain(7, 100, 300))
    assert a != _chain_bytes(gen.make_chain(8, 100, 300))
    m = _store_bytes(gen.monitor_store(7, 60_000, 250, 6))
    assert m == _store_bytes(gen.monitor_store(7, 60_000, 250, 6))
    assert m != _store_bytes(gen.monitor_store(8, 60_000, 250, 6))
    ranges = [(1001, 1500), (1501, 3500)]
    w = _store_bytes(gen.worker_store(7, ranges, 50, 5))
    assert w == _store_bytes(gen.worker_store(7, ranges, 50, 5))


def test_chain_expectations_match_documents():
    """The seed's answers agree with a plain JSON walk of the documents."""
    import json

    c = gen.make_chain(3, 10, 200)
    e = c.expect(10, 209)
    rows, heights = 0, set()
    for d in c.docs:
        r = json.loads(d)["result"]
        for tx in r["txs_results"] or ():
            for ev in tx["events"]:
                rows += len(ev["attributes"])
                heights.add(r["height"])
    assert e["attr_rows"] == rows and e["attr_heights"] == sorted(heights)
    assert e["msgs"] == int(c.n_txs.sum()) and (c.n_txs == 0).any()


# -- CPU accounting --------------------------------------------------------------

def test_classify_splits_driver_jvm_and_workers():
    # pid: (ppid, comm, own cpu s, reaped children cpu s)
    tree = {
        1: (0, "python3", 1.0, 0.5),   # driver; 0.5 s from a reaped helper
        2: (1, "java", 10.0, 2.0),     # JVM; 2 s from reaped workers
        3: (2, "python3", 0.1, 3.0),   # worker daemon; 3 s reaped workers
        4: (3, "python3", 4.0, 0.0),   # live worker
        5: (1, "gcc", 0.25, 0.0),      # live helper of the driver
    }
    s = procs.classify(tree, 1)
    assert (s.driver_py, s.jvm, s.pyworker) == (1.75, 10.0, 9.1)
    assert s.total == pytest.approx(20.85)


def test_cpu_difference_keeps_the_jit_inside_the_jvm():
    before = procs.CpuSample(1.0, 10.0, 2.0, 3.0, {7: 2.0, 8: 1.0})
    # thread 8 exited; thread 9 started
    after = procs.CpuSample(1.5, 16.0, 2.5, 4.5, {7: 3.0, 9: 1.5})
    d = after - before
    assert (d.driver_py, d.jvm, d.pyworker) == (0.5, 6.0, 0.5)
    assert d.jit == pytest.approx(2.5)  # threads alive at the end only
    assert d.total == pytest.approx(7.0)


def test_cpu_tree_counts_a_reaped_child():
    before = procs.cpu_tree()
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.4: pass"], check=True)
    spent = procs.cpu_tree() - before
    assert spent.driver_py >= 0.35 and spent.jvm == 0 and spent.pyworker == 0


# -- output checkers ---------------------------------------------------------------

def _monitor_answer(e: dict) -> dict:
    """The result rows a correct refresh returns, built from the seed's
    expectations."""
    return {
        "status_counts": [{"status": k, "count": v[0], "min_height": v[1],
                           "max_height": v[2]}
                          for k, v in e["status_counts"].items()],
        "pending_work": [{"id": i} for i in e["pending_work"]],
        "overlapping": [{"id": i} for i in e["overlapping"]],
        "stuck": [{"stuck_count": e["stuck"]}],
        "duplicates": [{"duplicate_ranges": e["duplicates"]}],
        "looping": [{"start_height": s, "end_height": t, "times_queued": n}
                    for s, t, n in e["looping"]],
        "max_height": e["max_height"],
        "gaps": [{"missing_height": int(h)} for h in e["gaps"]],
        "failed_breakdown": [{"status": k[0], "error_type": k[1],
                              "count": v[0], "min_height": v[1],
                              "max_height": v[2]}
                             for k, v in e["failed_breakdown"].items()],
        "retry_schedule": [{"block_height": h, "retry_in_s": s}
                           for h, s in e["retry_schedule"].items()],
        "last_height": e["last_height"],
        "test_connection": {"tables": e["tables"],
                            "last_processed_height": e["orchestrator"]},
    }


def test_monitor_checker_rejects_a_planted_gap():
    e = Monitor().expect(gen.monitor_store(5, 60_000, 250, 6))
    assert len(e["gaps"]) and e["stuck"] and e["duplicates"] and e["looping"]
    good = _monitor_answer(e)
    assert Monitor._check_one(e, good) == []
    bad = dict(good, gaps=good["gaps"][1:])
    assert Monitor._check_one(e, bad) == ["gaps"]
    bad = dict(good, stuck=[{"stuck_count": e["stuck"] + 1}])
    assert Monitor._check_one(e, bad) == ["stuck"]


def _land_ingest(store: str, chain: gen.Chain, lo: int, hi: int,
                 drop_attr_row: bool) -> pa.Table:
    """Write what a correct ingest of [lo, hi] leaves on disk (optionally
    one flattened row short) and return the decoded-message table."""
    heights = np.repeat(np.arange(chain.first_height, chain.last_height + 1),
                        chain.attr_rows)
    heights = heights[(heights >= lo) & (heights <= hi)]
    if drop_attr_row:
        heights = heights[1:]
    d = os.path.join(store, "tx_event_attrs", f"r{lo}", "height_bucket=0")
    os.makedirs(d)
    pq.write_table(pa.table({"height": heights}), os.path.join(d, "p.parquet"))
    msg = chain.tx_msg[(chain.tx_height >= lo) & (chain.tx_height <= hi)]
    pool = chain.pool.to_pydict()
    kinds = [pool["kind"][m] for m in msg]
    return pa.table({
        "type_url": [gen.MSG_KINDS[k][0] for k in kinds],
        "status": ["ok"] * len(msg),
        "amt": [int(pool["amount"][m]) if gen.MSG_KINDS[k][1] else None
                for m, k in zip(msg, kinds)],
        "pid": [pool["pid"][m] if k == "vote" else None
                for m, k in zip(msg, kinds)],
        "yes": [int(pool["option"][m] == 1) if k == "vote" else None
                for m, k in zip(msg, kinds)],
        "range_lo": [lo] * len(msg),
    })


@pytest.mark.parametrize("planted", [False, True])
def test_ingest_checker_rejects_a_missing_row(tmp_path, planted):
    chain = gen.make_chain(11, 1, 120)
    msgs = _land_ingest(str(tmp_path), chain, 1, 120, planted)
    run = Run(None, str(tmp_path), None, None,
              {"chain": chain, "msgs": msgs,
               "blocks_heights": np.arange(1, 121)})
    bad = _check_ingest(run, 1, 120)
    assert bool(bad) == planted


# -- traced-run attribution -----------------------------------------------------

def test_layer_self_times_and_remainder_sum_to_the_op_wall(tmp_path):
    from perfbench.report import LAYER_SPANS, per_layer
    from perfbench.tracing import Span, Tracer

    tr = Tracer(None, True)
    # op 0: a monitor query span holding api calls, plus a bare api call
    tr.spans = [Span(0, "op", 0.0, 10.0, None),
                Span(0, "monitor.gaps", 1.0, 6.0, 0),
                Span(0, "api.build", 1.5, 3.0, 1),
                Span(0, "api.exec", 3.0, 5.5, 1),
                Span(0, "api.claim", 7.0, 8.0, 0)]
    out = per_layer(tr, {}, [10.0], [9.0], procs.CpuSample(1.0, 2.0, 0.0),
                    {"peak_rss_mb": 1.0}, 2, [5.0], str(tmp_path), {})
    layers = sum(out[m] for m in LAYER_SPANS.values())
    assert layers == pytest.approx(5.0)
    assert out["trace.remainder_s"] == pytest.approx(5.0)
    assert layers + out["trace.remainder_s"] == pytest.approx(
        out["trace.op_wall_s"])
    assert out["monitor.gaps.p50_s"] == pytest.approx(5.0)
    assert out["trace.overhead"] == pytest.approx(10.0 / 9.0 - 1)
