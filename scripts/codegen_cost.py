"""Janino compiles and CPU per WAND request: repeated vs distinct queries.

Builds the 1000-doc pages_unit fixture index in a temporary directory,
sends one warm-up request per query shape (1, 2 and 3 vocabulary terms),
then N requests that repeat the warm-up queries interleaved with N
requests whose term sets no earlier request used, in the same shape
order. Each request is one single-query `topk_wand` job, as a serving
client sends it.

Prints one JSON line: per pass, the Janino compiles per request (the JVM's
`CodegenMetrics.METRIC_COMPILATION_TIME` count) and the core-seconds per
request spent by this process and every process under it (the JVM and its
Python workers). A query value that reaches Spark's generated code as a
literal makes every distinct query compile its own classes; it shows here
as `distinct` compiling >= 1 class per request while `repeated` compiles 0.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from elasticsearch_eslib_spark.config import get_spark  # noqa: E402
from elasticsearch_eslib_spark.fixtures import write_pages_parquet  # noqa: E402
from elasticsearch_eslib_spark.operators.query import topk_wand  # noqa: E402
from elasticsearch_eslib_spark.plans.build_index import (  # noqa: E402
    Index, build_index,
)

N = 12              # timed requests per pass
SHAPES = (1, 2, 3)  # resolved terms per query, cycled
K = 10


def _tree_cpu_s() -> float:
    """utime + stime of this process and its live descendants, plus what
    their reaped children used (cutime + cstime)."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        p = stack.pop()
        total += ticks.get(p, 0)
        stack.extend(children.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


def _compiles(spark) -> int:
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _queries(words: list[str]) -> list[str]:
    """Queries cycling through SHAPES, no two sharing a term."""
    out, pos = [], 0
    while pos + max(SHAPES) <= len(words):
        n = SHAPES[len(out) % len(SHAPES)]
        out.append(" ".join(words[pos:pos + n]))
        pos += n
    return out


def main() -> None:
    spark = get_spark("codegen-cost", master="local[4]", shuffle_partitions=8)
    pages = write_pages_parquet(
        os.path.join(ROOT, "tests", ".fixtures", "pages_unit"), 1000)
    index_dir = tempfile.mkdtemp(prefix="codegen_cost_")
    try:
        build_index(spark, pages, index_dir)
        idx = Index(spark, index_dir)
        words = [r["term"] for r in idx.terms.orderBy("term_id")
                 .select("term").collect()
                 if re.fullmatch(r"[a-z][a-z0-9]*", r["term"])]
        qs = _queries(words)
        warm, fresh = qs[:len(SHAPES)], qs[len(SHAPES):len(SHAPES) + N]

        def request(q: str) -> None:
            qdf = spark.createDataFrame([(0, q, K)],
                                        "query_id long, query string, k int")
            topk_wand(qdf, idx.terms, idx.postings, idx.n_docs, idx.avg_dl,
                      bound_avgdl=idx.bound_avgdl).collect()

        for q in warm:
            request(q)
        spent = {"repeated": [0, 0.0], "distinct": [0, 0.0]}
        for i in range(N):  # interleaved: both passes see the same JVM
            for name, q in (("repeated", warm[i % len(warm)]),
                            ("distinct", fresh[i])):
                c0, t0 = _compiles(spark), _tree_cpu_s()
                request(q)
                spent[name][0] += _compiles(spark) - c0
                spent[name][1] += _tree_cpu_s() - t0
        out = {"requests": N, **{
            name: {"compiles_per_request": round(c / N, 2),
                   "core_s_per_request": round(t / N, 3)}
            for name, (c, t) in spent.items()}}
    finally:
        spark.stop()
        shutil.rmtree(index_dir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
