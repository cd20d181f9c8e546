"""Seeded input generation for the benchmark workloads.

Every input is a function of (workload, seed, size) alone and is cached
under ``<work>/inputs/<workload>-s<seed>-n<docs>`` so generation never
counts toward a measured run. The job under test receives only the
parquet inputs; the truth each check compares against sits next to them
in ``truth.parquet``, which no job reads.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from comic_text_detector_spark.fixtures import _shell

from . import lsh

# Documents per input at scale 1: one extract or dedup job call takes
# 6-8 s on 4 cores, so a run's three timed calls fit the time budget.
# The curate input feeds only the traced run's curation and LM layers.
BASE_DOCS = {"extract": 12_000, "dedup": 2_000, "curate": 2_000}
INPUT_FILES = 8  # parquet files per input directory

_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_SYL = "ba be bi bo bu ka ke ki ko ku la le li lo lu ma me mi mo mu".split()
_SYL += "na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu".split()
# 2000 distinct pseudo-words: enough that two unrelated documents share no
# word 3-gram (near-dup) or 5-gram (decontamination), and no 20-character
# run (span dedup), by chance.
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:20]][::16]

# Planted curation targets.
BOILER_LINE = "Subscribe to our newsletter | Cookie settings | Back to top"
PASSAGE = (
    "This work is licensed under the Creative Example License and may be "
    "redistributed verbatim in any medium provided this notice and the "
    "original attribution are preserved intact by the redistributor."
)
MAX_LINE_DOC_FREQ = 10  # line_freq_dedup cap: above 1, below the boilerplate's


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(VOCAB, k=n))


@dataclass(frozen=True)
class Inputs:
    workload: str
    dir: str

    @property
    def docs(self) -> int:
        """Rows in the documents input (re-captures included)."""
        return sum(
            pq.ParquetFile(os.path.join(self.docs_path, f)).metadata.num_rows
            for f in os.listdir(self.docs_path)
        )

    @property
    def docs_path(self) -> str:
        return os.path.join(self.dir, "docs")

    @property
    def truth_path(self) -> str:
        return os.path.join(self.dir, "truth.parquet")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def _write_split(table: pa.Table, path: str, files: int = INPUT_FILES) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _extract_tables(n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """Pages in the fixture boilerplate shell with 1-4 known paragraphs.
    About 5% of urls get an older re-capture with other text, so the
    runner's as-of dedup has rows to drop; golden text is the latest
    capture's."""
    rng = random.Random(seed)
    urls, ts, html, golden_urls, golden = [], [], [], [], []

    def page(host: int, k: int) -> tuple[str, str]:
        paras = [_words(rng, rng.randint(12, 60)) for _ in range(k)]
        return _shell(host, paras), " ".join(paras)

    for i in range(n):
        host = min(int(rng.paretovariate(1.2)), 40)
        url = f"https://host{host}.example/article/{seed}/{i}"
        body, text = page(host, rng.randint(1, 4))
        when = _BASE_TS + dt.timedelta(seconds=i)
        if rng.random() < 0.05:
            old, _ = page(host, rng.randint(1, 4))
            urls.append(url)
            ts.append(when - dt.timedelta(days=30))
            html.append(old.encode())
        urls.append(url)
        ts.append(when)
        html.append(body.encode())
        golden_urls.append(url)
        golden.append(text)
    order = list(range(len(urls)))
    rng.shuffle(order)
    docs = pa.table(
        {
            "url": pa.array([urls[j] for j in order], pa.string()),
            "warc_ts": pa.array([ts[j] for j in order], pa.timestamp("us", tz="UTC")),
            "html": pa.array([html[j] for j in order], pa.binary()),
            "text": pa.nulls(len(order), pa.string()),
            "lang": pa.array(["eng"] * len(order), pa.string()),
        }
    )
    truth = pa.table({"url": golden_urls, "text": golden})
    return docs, truth


def _dedup_tables(n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """Unrelated 100-140 word texts plus planted clusters (about 12% of
    docs) of 2-6 members: exact copies, near copies (one word replaced
    relative to a shared base, so any two members have word-3-gram Jaccard
    >= 0.88) or a mix. Near copies are drawn so that every two members of
    a cluster share a minhash band (see lsh.py): each cluster is a clique
    of candidate pairs, and connected components takes the same number of
    rounds for every seed. ``truth.cluster`` is -1 for singletons."""
    rng = random.Random(seed)
    texts: list[str] = []
    cluster: list[int] = []
    cid = 0
    while len(texts) < n:
        base = _words(rng, rng.randint(100, 140))
        if rng.random() < 0.04:
            kind = rng.choice(("exact", "near", "mixed"))
            size = rng.randint(2, 6)
            texts.append(base)
            cluster.append(cid)
            words = base.split()
            bands = [lsh.band_keys(base)] if kind != "exact" else []
            for m in range(1, size):
                if kind == "exact" or (kind == "mixed" and m % 2):
                    texts.append(base)
                else:
                    while True:
                        w = list(words)
                        w[rng.randrange(len(w))] = rng.choice(VOCAB)
                        near = " ".join(w)
                        keys = lsh.band_keys(near)
                        if all(lsh.share_band(b, keys) for b in bands):
                            break
                    bands.append(keys)
                    texts.append(near)
                cluster.append(cid)
            cid += 1
        else:
            texts.append(base)
            cluster.append(-1)
    # urls are drawn independently of cluster position so a cluster's
    # min-url representative is not always its base text
    ids = rng.sample(range(10 * len(texts)), len(texts))
    urls = [f"https://d{i % 97}.example/doc/{i:08d}" for i in ids]
    docs = pa.table({"url": urls, "text": texts})
    truth = pa.table({"url": urls, "cluster": pa.array(cluster, pa.int32())})
    return docs, truth


def _curate_tables(n: int, seed: int) -> dict[str, pa.Table]:
    """Docs of a unique header line, the corpus-wide BOILER_LINE and 2-4
    body lines; 3% leak a 12-word run of a benchmark doc and 3% carry
    PASSAGE inside a body line. ``truth.kind`` names each doc's plant
    ('clean' when none). ``ref`` is reference text for the bigram LM."""
    rng = random.Random(seed)
    bench = [_words(rng, 60) for _ in range(40)]
    ref = [_words(rng, 80) for _ in range(600)]
    urls, texts, kinds = [], [], []
    for i in range(n):
        header = _words(rng, rng.randint(6, 10))
        body = [_words(rng, rng.randint(20, 40)) for _ in range(rng.randint(2, 4))]
        r = i % 100  # fixed shares, so even a smoke-scale input has each plant
        kind = "clean"
        if r < 3:
            kind = "leak"
            src = rng.choice(bench).split()
            at = rng.randrange(len(src) - 12)
            body[0] += " " + " ".join(src[at:at + 12])
        elif r < 6:
            kind = "passage"
            words = body[0].split()
            cut = len(words) // 2
            body[0] = " ".join(words[:cut] + [PASSAGE] + words[cut:])
        urls.append(f"https://c{i % 53}.example/{seed}/{i}")
        texts.append("\n".join([header, BOILER_LINE, *body]))
        kinds.append(kind)
    return {
        "docs": pa.table({"url": urls, "text": texts}),
        "bench": pa.table({"text": bench}),
        "ref": pa.table({"text": ref}),
        "truth": pa.table({"url": urls, "kind": kinds}),
    }


def ensure_inputs(work: str, workload: str, seed: int, scale: float) -> Inputs:
    """Generate (once) and return the inputs for one (workload, seed, size);
    ``scale`` multiplies the workload's base document count."""
    n = max(50, int(BASE_DOCS[workload] * scale))
    out = os.path.join(work, "inputs", f"{workload}-s{seed}-n{n}")
    if not os.path.exists(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "extract":
            docs, truth = _extract_tables(n, seed)
            tables = {"docs": docs, "truth": truth}
        elif workload == "dedup":
            docs, truth = _dedup_tables(n, seed)
            tables = {"docs": docs, "truth": truth}
        else:
            tables = _curate_tables(n, seed)
        for name, table in tables.items():
            if name == "truth":
                pq.write_table(table, os.path.join(tmp, "truth.parquet"))
            else:
                _write_split(table, os.path.join(tmp, name))
        os.replace(tmp, out)
    return Inputs(workload, out)
