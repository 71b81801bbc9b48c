"""Dev harness: run engine vs oracle on a small fixture and diff."""

from __future__ import annotations

import shutil
import sys
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, "/root/repo")

from rcspark.fixtures import make_fixture
from rcspark.oracle import run_oracle
from rcspark.run import CrawlEngine
from rcspark.session import get_spark

WEB_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField("body", T.BinaryType(), False),
    ]
)
CORPUS_SRC_SCHEMA = T.StructType(
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


def engine_dfs(spark, fx):
    web = spark.createDataFrame(
        fx.web[["url_canon", "status", "redirect_to", "body"]], WEB_SCHEMA
    ).persist()
    corpus_src = spark.createDataFrame(
        fx.corpus[["url", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]],
        CORPUS_SRC_SCHEMA,
    ).persist()
    return web, corpus_src


def main():
    spark = get_spark(app="dev-e2e", cores=8)
    fx = make_fixture(n_hosts=5, urls_per_host=20, seed=7)
    orc = run_oracle(fx)
    print(f"oracle: {len(orc.order)} fetch attempts, {len(orc.seen)} seen, "
          f"{len(orc.corpus)} images, {orc.waves} waves, {len(orc.robots_denied)} denied")

    root = tempfile.mkdtemp(prefix="rcspark_e2e_")
    web, corpus_src = engine_dfs(spark, fx)
    eng = CrawlEngine(spark, root, web, corpus_src, fx.robots, fx.seeds, fx.allowed_hosts)
    stats = eng.run(max_waves=100)
    print("engine waves:", [(s.wave, s.scheduled, s.new_urls, s.pending_next) for s in stats])

    log = eng.fetch_log().filter(F.col("seq").isNotNull()).orderBy("seq").collect()
    e_order = [(r.url_canon, r.wave, r.fetch_ms, r.result) for r in log]
    o_order = [(r["url_canon"], r["wave"], r["fetch_ms"], r["result"]) for r in orc.order]
    print("order len:", len(e_order), len(o_order))
    for i, (a, b) in enumerate(zip(e_order, o_order)):
        if a != b:
            print(f"FIRST ORDER DIVERGENCE at {i}: engine={a} oracle={b}")
            for k in range(max(0, i - 3), min(len(e_order), i + 4)):
                print("  ", k, e_order[k], "|", o_order[k] if k < len(o_order) else None)
            break
    else:
        if len(e_order) == len(o_order):
            print("ORDER: EXACT MATCH")

    e_seen = {r.url_canon for r in eng.seen_table().collect()}
    print("seen equal:", e_seen == orc.seen,
          "| engine-only:", sorted(e_seen - orc.seen)[:5],
          "| oracle-only:", sorted(orc.seen - e_seen)[:5])

    e_corpus = {r.image_id: r for r in eng.corpus_table().collect()}
    o_corpus = {c["image_id"]: c for c in orc.corpus}
    print("corpus ids equal:", set(e_corpus) == set(o_corpus), len(e_corpus), len(o_corpus))
    cap_ok = all(e_corpus[k].caption == o_corpus[k]["caption"] for k in set(e_corpus) & set(o_corpus))
    bytes_ok = all(bytes(e_corpus[k].bytes) == bytes(o_corpus[k]["bytes"]) for k in set(e_corpus) & set(o_corpus))
    print("captions equal:", cap_ok, "bytes equal:", bytes_ok)
    shutil.rmtree(root)
    spark.stop()


if __name__ == "__main__":
    main()
