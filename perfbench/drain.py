"""crawl_drain: the full CrawlEngine from seeds until the frontier drains.

Each wave handles very little data, so the fixed per-wave cost of the wave
loop (``run``) and the warehouse (``tables``: six concurrent table writes,
the snapshot commit, the eager driver jobs) dominates. Fetch is the
default ``simulate_fetch`` (an equi-join against the fixture web table).

The web (``generate``) has the same shape on every seed, so every seed
measures the same work: ``HOSTS`` seeded hosts, each a root page linking to
``PAGES`` pages — one robots-denied, one 301 back to a sibling, one 404,
the rest 200 (``IMAGES`` of them with an image) linking only back to known
pages. The crawl takes two waves (roots, then every page) with a fixed
number of fetches. Names, link noise (``fixtures._noisy``), priorities,
crawl delays and images vary with the seed. The reference is
``oracle.run_oracle`` on the same fixture, compared the way
tests/test_crawl_e2e.py does: crawl order, seen set, captions and pixels.
"""

from __future__ import annotations

import os
import shutil
import threading
from contextlib import contextmanager
from dataclasses import dataclass

import gates
from harness import force

HOSTS = 4
PAGES = 12           # per host, linked from its root
IMAGES = 2           # per host
DELAYS = [None, 0.5, 1.0, 2.0]

# Functions ``rcspark.run`` imports → span name. In a traced crawl the
# FORCED stages' frames are persisted and forced inside their spans, in wave
# order, so each span times its own stage on materialized inputs; forcing
# the pre-fetch stages keeps their work out of the fetch span. The WRAPPED
# stage is only wrapped: its span holds plan building plus filter_unseen's
# eager sizing jobs. Forcing it as well also slowed the write barrier and
# made the traced crawl take twice the untraced wall time on 4 cores.
FORCED = {
    "apply_robots_gate": "robots.gate",
    "rank_within_budget": "schedule.rank",
    "assign_global_seq": "schedule.seq",
    "simulate_fetch": "fetch.fetch",
    "classify_outcome": "fetch.fetch",
}
WRAPPED = {"filter_unseen": "dedup.filter_unseen"}
TABLES = ["frontier_pending", "seen", "bloom", "fetch_log", "corpus", "lineage"]


def generate(seed: int):
    """A fixture web of fixed shape (see the module docstring)."""
    import numpy as np
    import pandas as pd

    from rcspark.fixtures import ADJ, PART, Fixture, _noisy, make_image

    rng = np.random.default_rng(seed)
    hosts = [f"w{seed % 997}-{i}.example" for i in range(HOSTS)]
    pages: list[dict] = []
    corpus: list[dict] = []

    def page(host, url, links=(), status=200, redirect_to=None, image=False):
        image_url = caption = None
        if image:
            image_id = f"img{seed}x{len(corpus):04d}"
            image_url = f"http://{host}/img/{image_id}.ppm"
            caption = f"{ADJ[rng.integers(0, len(ADJ))]} {PART[rng.integers(0, len(PART))]} #{len(corpus)}"
            data, w, h, fmt, ph = make_image(image_id)
            corpus.append({"url": image_url, "image_id": image_id, "bytes": data,
                           "w": np.int32(w), "h": np.int32(h), "fmt": fmt,
                           "caption": caption, "phash": np.int64(ph)})
        links = [_noisy(u, rng) for u in links]
        body = "\n".join(
            [f"<title>{caption or ''}</title>"]
            + ([f'<img src="{image_url}">'] if image_url else [])
            + [f'<a href="{u}">l</a>' for u in links]
        ).encode()
        pages.append({"url_canon": url, "status": status, "redirect_to": redirect_to,
                      "links": links, "image_url": image_url, "caption": caption,
                      "body": body})

    for host in hosts:
        ids = rng.permutation(1000)[:PAGES]
        root = f"http://{host}/"
        denied = f"http://{host}/private/p/{ids[0]}"
        moved = f"http://{host}/old/{ids[1]}"
        plain = [f"http://{host}/p/{i}" for i in ids[2:]]
        page(host, root, links=list(rng.permutation(plain + [denied, moved])))
        page(host, moved, status=301, redirect_to=_noisy(plain[0], rng))
        for k, url in enumerate(plain):
            page(host, url, links=[root, plain[k - 1]], status=404 if k == 0 else 200,
                 image=0 < k <= IMAGES)

    web = pd.DataFrame(pages)
    web["status"] = web["status"].astype(np.int32)
    robots = pd.DataFrame(
        {
            "host": hosts,
            "allow_rules": [[] for _ in hosts],
            "deny_rules": [["/private"] for _ in hosts],
            "crawl_delay": [DELAYS[rng.integers(0, len(DELAYS))] for _ in hosts],
        }
    )
    seeds = pd.DataFrame(
        {"url": [_noisy(f"http://{h}/", rng) for h in hosts],
         "priority": rng.integers(0, 3, HOSTS)}
    )
    return Fixture(web=web, corpus=pd.DataFrame(corpus), robots=robots,
                   seeds=seeds, allowed_hosts=hosts)


@dataclass
class Expected:
    order: list[tuple]          # (url_canon, wave, fetch_ms, result, status) by seq
    seen: set[str]
    denied: list[str]
    corpus: dict[str, tuple]    # image_id -> (caption, decoded pixel bytes)


def _pixels(data: bytes) -> bytes:
    from rcspark.codecs import decode_image

    pix, _ = decode_image(bytes(data))
    return pix.tobytes()


def twin(fx) -> Expected:
    from rcspark.oracle import run_oracle

    orc = run_oracle(fx)
    return Expected(
        order=[
            (r["url_canon"], r["wave"], r["fetch_ms"], r["result"], r["status"])
            for r in orc.order
        ],
        seen=set(orc.seen),
        denied=sorted(orc.robots_denied),
        corpus={c["image_id"]: (c["caption"], _pixels(c["bytes"])) for c in orc.corpus},
    )


def compare(exp: Expected, order, seen, denied, corpus) -> tuple[int, int]:
    """``order`` yields (seq, url_canon, wave, fetch_ms, result, status);
    ``corpus`` yields (image_id, (caption, pixel bytes))."""
    return gates.combine(
        gates.compare_sequence(exp.order, order),
        gates.compare_set(exp.seen, seen),
        gates.compare_set(exp.denied, denied),
        gates.compare_keyed(exp.corpus, corpus),
    )


def check(exp: Expected, eng) -> tuple[int, int]:
    log = eng.fetch_log().select(
        "seq", "url_canon", "wave", "fetch_ms", "result", "status"
    ).collect()
    order = [
        (r.seq, r.url_canon, r.wave, r.fetch_ms, r.result, r.status)
        for r in log
        if r.seq is not None
    ]
    denied = [r.url_canon for r in log if r.result == "robots_denied"]
    seen = [r.url_canon for r in eng.seen_table().select("url_canon").collect()]
    corpus = eng.corpus_table().select("image_id", "caption", "bytes").collect()
    return compare(
        exp, order, seen, denied,
        ((r.image_id, (r.caption, _pixels(r.bytes))) for r in corpus),
    )


@dataclass
class Loaded:
    web: object
    corpus_src: object
    fx: object


def load(spark, fx) -> Loaded:
    from pyspark.sql import types as T

    web_schema = T.StructType(
        [
            T.StructField("url_canon", T.StringType(), False),
            T.StructField("status", T.IntegerType(), False),
            T.StructField("redirect_to", T.StringType(), True),
            T.StructField("body", T.BinaryType(), False),
        ]
    )
    src_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
            T.StructField("caption", T.StringType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )
    web = spark.createDataFrame(
        fx.web[["url_canon", "status", "redirect_to", "body"]], web_schema
    ).localCheckpoint()
    corpus_src = spark.createDataFrame(
        fx.corpus[[f.name for f in src_schema.fields]], src_schema
    ).localCheckpoint()
    return Loaded(web, corpus_src, fx)


def engine(spark, ld: Loaded, root: str, seeded: str):
    """A fresh engine past its seed wave, in ``root``. The first call runs
    the seed wave and keeps a copy of the warehouse in ``seeded``; later
    calls start from a copy of that (the engine resumes from the last
    commit)."""
    from rcspark.run import CrawlEngine

    shutil.rmtree(root, ignore_errors=True)
    if os.path.isdir(seeded):
        shutil.copytree(seeded, root)
    fx = ld.fx
    eng = CrawlEngine(
        spark, root, ld.web, ld.corpus_src, fx.robots, fx.seeds, fx.allowed_hosts
    )
    if not os.path.isdir(seeded):
        eng.run_wave()
        shutil.copytree(root, seeded)
    return eng


def drain(eng, jobs_submitted) -> tuple[list[float], list[int]]:
    """Run waves until the frontier drains: (wall seconds, Spark jobs) per wave."""
    import time

    walls, jobs = [], []
    while True:
        j0 = jobs_submitted()
        t0 = time.perf_counter()
        if eng.run_wave() is None:
            return walls, jobs
        walls.append(time.perf_counter() - t0)
        jobs.append(jobs_submitted() - j0)


# ---------------------------------------------------------------------------
# traced drain
# ---------------------------------------------------------------------------


@contextmanager
def _patched(tracer, eng, held: list):
    """Wrap the stages of ``eng``'s waves in spans; restore them afterwards.

    Forced frames go to ``held``. Past the seed wave the input of
    ``_with_canon_cols`` is always the discoveries (links the parse UDF
    takes from the fetched pages, plus redirect targets); it is forced in
    the parse span, and the canon span around the call holds plan building
    only. The ``Warehouse`` methods are wrapped as they are: reads only
    build plans, writes and the commit do the work."""
    import rcspark.run as run_mod

    def forced(fn, name):
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
                frames = out if isinstance(out, tuple) else (out,)
                held.extend(force(df) for df in frames)
                return out

        return traced

    names = (*FORCED, *WRAPPED, "_with_canon_cols")
    saved = {name: getattr(run_mod, name) for name in names}

    def canon(df, *args):
        with tracer.span("parse.parse"):
            held.append(df := force(df))
        with tracer.span("urlnorm.canon"):
            return saved["_with_canon_cols"](df, *args)

    for name, span in FORCED.items():
        setattr(run_mod, name, forced(saved[name], span))
    for name, span in WRAPPED.items():
        setattr(run_mod, name, tracer.wrap(saved[name], span))
    run_mod._with_canon_cols = canon
    wh = eng.wh
    main = threading.main_thread()

    def write_wave(table, df, wave, _orig=wh.write_wave):
        pooled = threading.current_thread() is not main
        with tracer.span("tables.write", table=table, pooled=pooled):
            return _orig(table, df, wave)

    wh.write_wave = write_wave
    wh.read_snapshot = tracer.wrap(wh.read_snapshot, "tables.read")
    wh.read_appends = tracer.wrap(wh.read_appends, "tables.read")
    wh.commit = tracer.wrap(wh.commit, "tables.commit")
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(run_mod, name, fn)
        for attr in ("write_wave", "read_snapshot", "read_appends", "commit"):
            wh.__dict__.pop(attr, None)


def _files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def traced_drain(eng, tracer) -> tuple[float, dict[str, float]]:
    """Drain ``eng``, past its seed wave, under spans; (wall seconds,
    per-layer metrics).

    Layer times are per wave (sum of a layer's spans inside the wave span),
    reported as the median over the drain's waves."""
    import statistics
    import time

    waves: list[dict] = []
    held: list = []
    files0, bytes0 = _files(eng.wh.root)
    t_start = time.perf_counter()
    with _patched(tracer, eng, held):
        while True:
            with tracer.span("run.wave") as w:
                tracer.fallback_parent = w["id"]
                stats = eng.run_wave()
            tracer.fallback_parent = None
            for df in held:
                df.unpersist()
            held.clear()
            if stats is None:
                break  # the drain check, not a wave
            waves.append(w)
    wall = time.perf_counter() - t_start

    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        children.setdefault(s["parent"], []).append(s)

    def below(span_id):
        for s in children.get(span_id, ()):
            yield s
            yield from below(s["id"])

    def per_wave(pred) -> float:
        return statistics.median(
            sum(s["end"] - s["start"] for s in below(w["id"]) if pred(s)) for w in waves
        )

    out = {
        f"{layer}_s": per_wave(lambda s, n=layer: s["name"] == n)
        for layer in ("urlnorm.canon", "dedup.filter_unseen", "robots.gate",
                      "schedule.rank", "schedule.seq", "fetch.fetch", "parse.parse",
                      "tables.read", "tables.commit")
    }
    for t in TABLES:
        out[f"tables.write_s.{t}"] = per_wave(
            lambda s, t=t: s["name"] == "tables.write" and s["table"] == t
        )
    barriers, pre = [], []
    for w in waves:
        pooled = [s for s in below(w["id"]) if s["name"] == "tables.write" and s["pooled"]]
        b = max(s["end"] for s in pooled) - min(s["start"] for s in pooled)
        barriers.append(b)
        pre.append(w["end"] - w["start"] - b)
    files1, bytes1 = _files(eng.wh.root)
    out.update(
        {
            "run.barrier_s": statistics.median(barriers),
            "run.pre_write_s": statistics.median(pre),
            "tables.files_written": (files1 - files0) / len(waves),
            "tables.bytes_written": (bytes1 - bytes0) / len(waves),
        }
    )
    return wall, out
