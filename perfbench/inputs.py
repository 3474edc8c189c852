"""Seeded inputs owned by the benchmark: pages corpus, disjoint append
batches, query stream, and the pure-Python oracle answers for them.

The corpus has the shape of the engine's fixture generator (10k-term Zipf
vocabulary, a 5-language mix, lognormal doc lengths, head terms forced
into ~55% of docs) but is generated here, from the seed, so a change to
the engine's fixtures never changes the benchmark's inputs.

Every doc draws from its own generator seeded by (seed, doc index), so
any chunking yields identical rows and generation runs in parallel
child processes. Generated pages are cached under the work dir by
(seed, doc range, generator version, analyzer source hash).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import pickle
import shutil
import subprocess
import sys

import numpy as np

GEN_VERSION = 1
VOCAB_SIZE = 10_000
ZIPF_S = 1.07
N_HEAD = 10
ROW_GROUP_DOCS = 250
STOPWORD_QUERY = "the and of"

_LANG_CYCLE = ["en"] * 10 + ["de"] * 3 + ["es"] * 3 + ["fr"] * 2 + ["zh"] * 2
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _zipf_probs(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return p / p.sum()


_VOCAB = np.array([f"t{i:06d}" for i in range(VOCAB_SIZE)])
_PROBS = _zipf_probs(VOCAB_SIZE)
_ZH_VOCAB = np.array([chr(0x4E00 + j) + chr(0x4E00 + (j * 7 + 3) % 400)
                      for j in range(200)])
_ZH_PROBS = _zipf_probs(200)


def _doc(seed: int, i: int) -> tuple[str, str, bytes]:
    """(url, lang, html) of doc `i` of corpus `seed`."""
    rng = np.random.default_rng((seed, i))
    lang = _LANG_CYCLE[i % len(_LANG_CYCLE)]
    length = int(np.clip(rng.lognormal(np.log(120.0), 0.6), 8, 1024))
    if lang == "zh":
        words = list(rng.choice(_ZH_VOCAB, size=length, p=_ZH_PROBS))
    else:
        words = list(rng.choice(_VOCAB, size=length, p=_PROBS))
        for h in np.flatnonzero(rng.random(N_HEAD) < 0.55):
            words[h % length] = _VOCAB[h]
    body = "".join((("  " if j % 7 == 0 else " ") if j else "") + w
                   for j, w in enumerate(words))
    html = (f"<html><head><title>T{i}</title><style>p{{color:red}}</style>\n"
            f"<script>var x=1;</script></head>\n"
            f"<body><h1>{words[0]} &amp; {words[-1]}</h1>\n"
            f"<p>{body} &lt;tag&gt;</p>\n"
            f"<!-- comment dropped --></body></html>")
    url = f"https://site{i % 97}.example.org/s{seed}/p/{i:08d}"
    return url, lang, html.encode("utf-8")


def _gen_chunk(args: tuple[int, int, int]) -> dict:
    """Rows for docs [lo, hi) plus their analyzed tokens (oracle input)."""
    from elasticsearch_eslib_spark.functions.analyze import analyze_text
    from elasticsearch_eslib_spark.functions.extract import extract_text

    seed, lo, hi = args
    cols: dict = {"url": [], "warc_ts": [], "html": [], "text": [],
                  "lang": [], "tokens": []}
    for i in range(lo, hi):
        url, lang, html = _doc(seed, i)
        text = extract_text(html)
        cols["url"].append(url)
        cols["warc_ts"].append(_EPOCH + dt.timedelta(seconds=i))
        cols["html"].append(html)
        cols["text"].append(text)
        cols["lang"].append(lang)
        cols["tokens"].append(analyze_text(text, lang))
    return cols


def _gen_range(seed: str, lo: str, hi: str, out: str) -> None:
    """Child entry point: pickle `_gen_chunk` of docs [lo, hi) to `out`."""
    cols = _gen_chunk((int(seed), int(lo), int(hi)))
    with open(out, "wb") as fh:
        pickle.dump(cols, fh, protocol=pickle.HIGHEST_PROTOCOL)


def _generate(seed: int, lo: int, hi: int, procs: int, tmp: str) -> dict:
    """Columns for docs [lo, hi), split over up to `procs` child
    interpreters. They are plain subprocesses (no multiprocessing, so no
    helper process of its own either), each waited for on every path out."""
    step = max(1, -(-(hi - lo) // procs))
    ranges = [(a, min(hi, a + step)) for a in range(lo, hi, step)]
    if len(ranges) == 1:
        return _gen_chunk((seed, lo, hi))
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    entry = ("import sys; from perfbench.inputs import _gen_range; "
             "_gen_range(*sys.argv[1:])")
    children = []
    try:
        for a, b in ranges:
            out = os.path.join(tmp, f"{a}-{b}.pkl")
            children.append((subprocess.Popen(
                [sys.executable, "-c", entry, str(seed), str(a), str(b), out],
                cwd=os.path.dirname(here)), out))
        for p, _ in children:
            if p.wait() != 0:
                raise RuntimeError(f"input generation failed: {p.args}")
    finally:
        for p, _ in children:
            if p.poll() is None:
                p.kill()
            p.wait()
    cols: dict = {}
    for _, out in children:
        with open(out, "rb") as fh:
            for k, v in pickle.load(fh).items():
                cols.setdefault(k, []).extend(v)
    return cols


def _analyzer_hash() -> str:
    """Hash of the engine sources the oracle tokens depend on."""
    import elasticsearch_eslib_spark.functions.analyze as an
    import elasticsearch_eslib_spark.functions.extract as ex

    h = hashlib.sha256()
    for mod in (an, ex):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


class Corpus:
    """One generated doc range: `path` is its pages parquet dir; `urls`,
    `tokens` (analyzer output), `html` and `langs` are parallel lists."""

    def __init__(self, path: str, urls: list[str], tokens: list[list[str]],
                 html: list[bytes], langs: list[str]):
        self.path = path
        self.urls = urls
        self.tokens = tokens
        self.html = html
        self.langs = langs

    def __len__(self) -> int:
        return len(self.urls)


def _pages_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), True),
        pa.field("lang", pa.string(), False),
    ])


def corpus(cache_dir: str, seed: int, lo: int, hi: int,
           procs: int) -> Corpus:
    """Pages for docs [lo, hi) of corpus `seed`, generated or cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"v{GEN_VERSION}-{_analyzer_hash()}-s{seed}-{lo}-{hi}"
    root = os.path.join(cache_dir, key)
    pages_dir = os.path.join(root, "pages")
    tok_file = os.path.join(root, "tokens.parquet")
    if not os.path.exists(os.path.join(root, "_DONE")):
        tmp = root + ".parts"
        shutil.rmtree(tmp, ignore_errors=True)
        cols = _generate(seed, lo, hi, procs, tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(pages_dir, exist_ok=True)
        table = pa.table({k: cols[k] for k in
                          ("url", "warc_ts", "html", "text", "lang")},
                         schema=_pages_schema())
        pq.write_table(table, os.path.join(pages_dir, "pages.parquet"),
                       row_group_size=ROW_GROUP_DOCS)
        pq.write_table(pa.table({"url": cols["url"],
                                 "tokens": cols["tokens"]}), tok_file)
        with open(os.path.join(root, "_DONE"), "w") as fh:
            fh.write(key)
    pages = pq.read_table(os.path.join(pages_dir, "pages.parquet"),
                          columns=["url", "html", "lang"]).to_pydict()
    toks = pq.read_table(tok_file).to_pydict()
    return Corpus(pages_dir, toks["url"], toks["tokens"], pages["html"],
                  pages["lang"])


# Query kinds in a fixed rotation, so every run and every batch of ten
# has the same mix; the seed picks the terms. H: head term plus 1-2 tail
# terms (40%), T: 1-3 tail terms (30%), A: absent term, S: all
# stopwords, D: one tail term twice (10% each).
_QUERY_KINDS = "HTHTAHTSHD"


def query_stream(seed: int, n: int) -> list[tuple[int, str]]:
    rng = np.random.default_rng((seed, 0x9E37))

    def tail(m: int) -> list[str]:
        return list(_VOCAB[rng.integers(500, VOCAB_SIZE, m)])

    out = []
    for qid in range(n):
        kind = _QUERY_KINDS[qid % len(_QUERY_KINDS)]
        if kind == "H":
            words = [_VOCAB[rng.integers(0, N_HEAD)]] + tail(
                int(rng.integers(1, 3)))
        elif kind == "T":
            words = tail(int(rng.integers(1, 4)))
        elif kind == "A":
            words = [f"zq{int(rng.integers(0, 10**6)):06d}x"]
        elif kind == "S":
            words = [STOPWORD_QUERY]
        else:
            words = tail(1) * 2
        out.append((qid, " ".join(words)))
    return out


class Oracle:
    """Exhaustive BM25 over the benchmark's docs, with the engine's doc ids:
    a build numbers docs 1.. in url order; each append continues after the
    previous max id, again in url order within its batch."""

    def __init__(self):
        from elasticsearch_eslib_spark import oracle

        self._oracle = oracle
        self.docs: list[tuple[int, list[str]]] = []
        self.max_id = 0
        self.idx = None

    def add(self, c: Corpus) -> None:
        for rank, j in enumerate(sorted(range(len(c)),
                                        key=lambda j: c.urls[j].encode())):
            self.docs.append((self.max_id + rank + 1, c.tokens[j]))
        self.max_id += len(c)
        self.idx = self._oracle.build_index(self.docs)

    @property
    def n_docs(self) -> int:
        return self.idx.n_docs

    @property
    def avg_dl(self) -> float:
        return self.idx.avg_dl

    def topk(self, query: str, k: int) -> list[tuple[int, int, float]]:
        from elasticsearch_eslib_spark.functions.analyze import analyze_text

        return self._oracle.bm25_topk(self.idx, analyze_text(query, "en"), k)


def same_topk(rows, expected, rel: float = 1e-9) -> bool:
    """Spark rows (rank, doc_id, score) vs oracle [(rank, doc_id, score)]:
    rank-identical, scores equal within float64 round-off."""
    got = sorted((int(r["rank"]), int(r["doc_id"]), float(r["score"]))
                 for r in rows)
    if [g[:2] for g in got] != [e[:2] for e in expected]:
        return False
    return all(abs(g[2] - e[2]) <= rel * max(1.0, abs(e[2]))
               for g, e in zip(got, expected))
