"""Each correctness gate rejects a corrupted output.

    python3 -m pytest perfbench/test_gates.py -q

The frontier_wave and crawl_drain cases use their real references (the
pure-Python twin and ``oracle.run_oracle``) on small seeded inputs, so no
Spark session is needed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import drain  # noqa: E402
import frontier  # noqa: E402


def _frontier_output(exp):
    sched = [(i, url, ms) for i, (url, ms) in enumerate(exp.scheduled)]
    return sched, sorted(exp.leftover)


def _frontier_error(exp, sched, left):
    return frontier.compare(exp, sched, left)


def test_frontier_gate_accepts_reference_and_rejects_swapped_seq():
    exp = frontier.twin(frontier.generate(3, n_urls=3000))
    sched, left = _frontier_output(exp)
    assert len(sched) > 100 and len(left) > 100
    assert _frontier_error(exp, sched, left)[0] == 0

    (a, ua, ma), (b, ub, mb) = sched[10], sched[11]
    swapped = list(sched)
    swapped[10], swapped[11] = (a, ub, mb), (b, ua, ma)
    bad, n = _frontier_error(exp, swapped, left)
    assert bad == 2 and n == len(sched) + len(left)


def test_frontier_gate_rejects_lost_and_duplicated_rows():
    exp = frontier.twin(frontier.generate(4, n_urls=2000))
    sched, left = _frontier_output(exp)
    assert _frontier_error(exp, sched[:-1], left)[0] == 1
    assert _frontier_error(exp, sched + [sched[0]], left)[0] == 1
    assert _frontier_error(exp, sched, left[1:])[0] == 1
    assert _frontier_error(exp, sched, left + left[:1])[0] == 1


def _drain_output(exp):
    order = [(i, *row) for i, row in enumerate(exp.order)]
    return order, sorted(exp.seen), list(exp.denied), dict(exp.corpus)


def _drain_error(exp, order, seen, denied, corpus):
    return drain.compare(exp, order, seen, denied, corpus.items())


def test_drain_gate_rejects_dropped_seen_url_and_altered_status():
    exp = drain.twin(drain.generate(5))
    order, seen, denied, corpus = _drain_output(exp)
    assert len(order) > 40 and corpus
    assert _drain_error(exp, order, seen, denied, corpus)[0] == 0

    assert _drain_error(exp, order, seen[1:], denied, corpus)[0] == 1

    i = next(k for k, row in enumerate(order) if row[5] == 200)
    altered = list(order)
    seq, url, wave, ms, result, _ = altered[i]
    altered[i] = (seq, url, wave, ms, result, 404)
    assert _drain_error(exp, altered, seen, denied, corpus)[0] == 1

    iid = next(iter(corpus))
    caption, pixels = corpus[iid]
    recaptioned = {**corpus, iid: (caption + "!", pixels)}
    assert _drain_error(exp, order, seen, denied, recaptioned)[0] == 1
