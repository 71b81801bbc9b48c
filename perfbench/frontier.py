"""frontier_wave: one pre-fetch wave over a large, noisy frontier.

canon_col → first-occurrence dedup → filter_unseen → apply_robots_gate →
with_budget / rank_within_budget → assign_global_seq, then the scheduled
rows (with ``seq``) and the leftover rows are written as parquet.

The input URLs are raw on purpose (mixed-case hosts, ``:80``, tracking
parameters, fragments, via ``fixtures._noisy``): bench.py's
``crawl_wave_pipeline`` builds ``url_canon`` directly and so never
measures ``urlnorm`` despite its "canon+…" label.

The reference is a pure-Python twin built from ``canon_py``,
``robots_allowed_py`` and ``oracle.host_slot`` / ``host_budget``; it is
computed once per seed, outside timing.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gates
from harness import force

N_URLS = 24_000          # raw input rows per wave
N_HOSTS = 600            # Zipf(1.2) sizes: the largest host holds ~24 %
DUP_FRAC = 0.10          # extra raw variants of already-listed URLs
SEEN_FRAC = 0.25         # share of distinct input URLs already seen
EXTRA_SEEN_FRAC = 0.25   # seen URLs absent from the input (Bloom load)
DELAYS = [None, 0.5, 1.0, 2.0]


@dataclass
class Inputs:
    raw: pd.DataFrame      # idx raw priority depth discovered_wave retry_count
    seen: list[str]        # canonical URLs already crawled
    robots: pd.DataFrame   # host allow_rules deny_rules crawl_delay


def _host_paths(rng: np.random.Generator, host: str, n: int) -> list[str]:
    r = rng.random(n)
    out = []
    for j in range(n):
        if r[j] < 0.55:
            path = f"/p/{j}"
        elif r[j] < 0.78:
            path = f"/parts/{j}?id={j}&s={int(rng.integers(0, 5))}"
        elif r[j] < 0.86:
            path = f"/private/p/{j}"
        elif r[j] < 0.90:
            path = f"/private/ok/{j}"
        elif r[j] < 0.95:
            path = f"/files/{j}.pdf"
        else:
            path = f"/search/{j}/x"
        out.append(f"http://{host}{path}")
    return out


def _robots(hosts: list[str]) -> pd.DataFrame:
    """Rules by host index, so every seed gets the same robots mix."""
    rows = []
    for i, host in enumerate(hosts):
        if i % 20 == 19:
            continue  # no robots.txt: everything allowed
        if i % 50 == 48:
            deny, allow = ["/"], []
        else:
            deny = ["/private", "/*.pdf$", "/search/*/x$"]
            allow = ["/private/ok"] if i % 2 == 0 else []
            if i % 4 < 2:
                allow.append("/search/1*/x$")  # longer wildcard allow wins
        rows.append(
            {
                "host": host,
                "allow_rules": allow,
                "deny_rules": deny,
                "crawl_delay": DELAYS[i % len(DELAYS)],
            }
        )
    return pd.DataFrame(rows)


def generate(seed: int, n_urls: int = N_URLS) -> Inputs:
    from rcspark.fixtures import _noisy, _zipf_sizes

    rng = np.random.default_rng(seed)
    hosts = [f"h{i}.example" for i in range(N_HOSTS)]
    n_distinct = int(n_urls / (1 + DUP_FRAC))
    sizes = _zipf_sizes(N_HOSTS, n_distinct)
    canon = [u for h, n in zip(hosts, sizes) for u in _host_paths(rng, h, int(n))]
    dups = rng.integers(0, len(canon), n_urls - len(canon))
    order = rng.permutation(np.concatenate([np.arange(len(canon)), dups]))
    raw = [_noisy(canon[i], rng) for i in order]
    n = len(raw)
    raw_df = pd.DataFrame(
        {
            "idx": np.arange(n, dtype=np.int64),
            "raw": raw,
            "priority": rng.integers(0, 4, n).astype(np.int32),
            "depth": rng.integers(1, 4, n).astype(np.int32),
            "discovered_wave": rng.integers(0, 3, n).astype(np.int32),
            "retry_count": np.zeros(n, dtype=np.int32),
        }
    )
    seen_mask = rng.random(len(canon)) < SEEN_FRAC
    seen = [u for u, s in zip(canon, seen_mask) if s]
    seen += [
        f"http://{hosts[int(h)]}/old/{k}"
        for k, h in enumerate(rng.integers(0, N_HOSTS, int(len(canon) * EXTRA_SEEN_FRAC)))
    ]
    return Inputs(raw=raw_df, seen=seen, robots=_robots(hosts))


# ---------------------------------------------------------------------------
# reference twin
# ---------------------------------------------------------------------------


@dataclass
class Expected:
    scheduled: list[tuple[str, int]]  # (url_canon, fetch_ms) in seq order
    leftover: set[str]


def twin(inp: Inputs) -> Expected:
    from rcspark.oracle import _host_path, host_budget, host_slot
    from rcspark.robots import robots_allowed_py
    from rcspark.urlnorm import canon_py

    robots = {r.host: r for r in inp.robots.itertuples()}
    seen = set(inp.seen)
    first: dict[str, tuple] = {}
    for r in inp.raw.itertuples():
        c = canon_py(r.raw)
        if c is not None and c not in first:
            first[c] = (int(r.priority), int(r.discovered_wave))
    by_host: dict[str, list] = {}
    for c, (prio, dw) in first.items():
        if c in seen:
            continue
        host, path = _host_path(c)
        rb = robots.get(host)
        if rb is not None and not robots_allowed_py(path, rb.allow_rules, rb.deny_rules):
            continue
        by_host.setdefault(host, []).append((-prio, dw, c))
    events, leftover = [], set()
    for host, entries in by_host.items():
        entries.sort()
        cd = robots[host].crawl_delay if host in robots else None
        cd = None if cd is None or pd.isna(cd) else float(cd)
        tick, group = host_slot(cd)
        b = host_budget(cd)
        for j, (_, _, c) in enumerate(entries[:b], start=1):
            events.append((((j - 1) // group) * tick, host, j, c))
        leftover.update(c for _, _, c in entries[b:])
    events.sort()
    return Expected([(c, ms) for ms, _, _, c in events], leftover)


def compare(exp: Expected, scheduled, leftover) -> tuple[int, int]:
    """``scheduled`` yields (seq, url_canon, fetch_ms); ``leftover`` URLs."""
    return gates.combine(
        gates.compare_sequence(exp.scheduled, scheduled),
        gates.compare_set(exp.leftover, leftover),
    )


def check(exp: Expected, out_dir: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    sched = pq.read_table(os.path.join(out_dir, "scheduled")).to_pandas()
    left = pq.read_table(os.path.join(out_dir, "leftover")).to_pandas()
    return compare(
        exp, zip(sched["seq"], sched["url_canon"], sched["fetch_ms"]), left["url_canon"]
    )


# ---------------------------------------------------------------------------
# engine side
# ---------------------------------------------------------------------------


@dataclass
class Loaded:
    raw: object
    seen: object
    bloom: object
    robots: object
    n_raw: int


def load(spark, inp: Inputs) -> Loaded:
    """Inputs → checkpointed Spark frames; the Bloom filter is prebuilt."""
    from pyspark.sql import functions as F

    from rcspark.dedup import bloom_update, empty_bloom
    from rcspark.robots import robots_table

    raw = spark.createDataFrame(inp.raw).localCheckpoint()
    seen = (
        spark.createDataFrame(pd.DataFrame({"url_canon": inp.seen}))
        .withColumn("digest", F.xxhash64("url_canon"))
        .localCheckpoint()
    )
    bloom = bloom_update(seen.select("digest"), empty_bloom(spark)).localCheckpoint()
    robots = robots_table(spark, inp.robots).localCheckpoint()
    return Loaded(raw, seen, bloom, robots, len(inp.raw))


def _first(canon):
    """In-wave dedup: the lowest ``idx`` of each canonical URL wins."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("url_canon").orderBy("idx")
    return canon.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _unseen(first, ld: Loaded, gc: list):
    from rcspark.dedup import filter_unseen

    return filter_unseen(first, ld.bloom, ld.seen, persisted_out=gc)


def _gate(fresh, ld: Loaded):
    from pyspark.sql import functions as F

    from rcspark.robots import apply_robots_gate

    return apply_robots_gate(fresh, ld.robots).filter(F.col("robots_allowed"))


def _rank(gated):
    from rcspark.schedule import rank_within_budget, with_budget

    return rank_within_budget(with_budget(gated))


def _seq(scheduled, gc: list):
    from pyspark.sql import functions as F

    from rcspark.schedule import assign_global_seq

    return assign_global_seq(
        scheduled, [F.col("fetch_ms"), F.col("host"), F.col("j")], 0, persisted_out=gc
    )


def _write(scheduled, leftover, out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    scheduled.select("seq", "url_canon", "host", "fetch_ms").write.parquet(
        os.path.join(out_dir, "scheduled")
    )
    leftover.select("url_canon", "host", "priority").write.parquet(
        os.path.join(out_dir, "leftover")
    )


def wave(ld: Loaded, out_dir: str) -> None:
    """One untraced wave: every stage stays lazy until the two writes."""
    from rcspark.run import _with_canon_cols

    gc: list = []
    canon = _with_canon_cols(ld.raw)
    scheduled, leftover = _rank(_gate(_unseen(_first(canon), ld, gc), ld))
    _write(_seq(scheduled, gc), leftover, out_dir)
    for h in gc:
        h.unpersist()


def traced_wave(ld: Loaded, out_dir: str, tracer) -> tuple[float, dict[str, float]]:
    """One wave with each stage persisted and forced inside its own span:
    (wave wall seconds, per-layer metrics). The Bloom probe counts are
    taken after the wave, outside its span."""
    from pyspark.sql import functions as F

    from rcspark.dedup import bloom_probe_broadcast
    from rcspark.run import _with_canon_cols

    gc: list = []
    with tracer.span("run.wave") as wave:
        with tracer.span("urlnorm.canon"):
            canon = force(_with_canon_cols(ld.raw))
        with tracer.span("dedup.filter_unseen"):
            first = force(_first(canon))
            fresh = force(_unseen(first, ld, gc))
        with tracer.span("robots.gate"):
            gated = force(_gate(fresh, ld))
        with tracer.span("schedule.rank"):
            scheduled, leftover = _rank(gated)
            scheduled, leftover = force(scheduled), force(leftover)
        with tracer.span("schedule.seq"):
            seq = force(_seq(scheduled, gc))
        with tracer.span("write"):
            _write(seq, leftover, out_dir)

    probes: list = []
    probed = bloom_probe_broadcast(first, ld.bloom, resources_out=probes)
    maybe = probed.filter(F.col("maybe_seen"))
    n_cand, n_maybe = first.count(), maybe.count()
    n_fp = maybe.join(
        ld.seen.select("digest", "url_canon"), ["digest", "url_canon"], "left_anti"
    ).count()
    for h in (*gc, *probes, canon, first, fresh, gated, scheduled, leftover, seq):
        h.unpersist()
    layers = {f"{name}_s": d for name in (
        "urlnorm.canon", "dedup.filter_unseen", "robots.gate", "schedule.rank",
        "schedule.seq") for d in tracer.durations(name, parent=wave["id"])}
    layers["dedup.bloom_maybe_frac"] = n_maybe / n_cand
    layers["dedup.bloom_fp_frac"] = n_fp / n_maybe if n_maybe else 0.0
    return wave["end"] - wave["start"], layers
