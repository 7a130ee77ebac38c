"""Benchmark inputs and their expected outputs, made before Spark starts.

Extraction workloads: documents come from ``fixtures.gen_doc`` (a pure
function of seed, index and profile), are written as parquet, and their
expected span sequences come from ``tools/goldens.py``.  Goldens are cached
under the work directory, keyed by a hash of the input rows and of the
source files the kernel is built from, so a repeated (workload, seed) pays
only the check, never the single-process reference pass again.

Curate workload: an ``extracted_documents``-shaped corpus with planted
exact-duplicate and near-duplicate clusters, plus decoy pairs that share
part of their text (LSH candidates that verification must reject).  Its
expected kept set comes from an exact all-pairs Jaccard oracle in plain
Python, independent of the MinHash/LSH code under test.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_pdf_ocr_spark import fixtures

#: text-dominant profile: 20–60 spans per doc (≈85% text, 12% html,
#: 3% image), 1% of docs carry 400–800 spans, every 25th doc one error span
SPAN_FLOOD = fixtures.FixtureProfile(
    spans_min=20, spans_max=60, heavy_every=100,
    heavy_spans_min=400, heavy_spans_max=800, error_every=25,
    w_text=0.85, w_html=0.97, w_pdf=0.97)

_SPAN_TYPE = pa.list_(pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False)]))
DOCS_ARROW = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                        pa.field("spans", _SPAN_TYPE, nullable=False)])

#: sources whose change can change the expected output of a given input
_KERNEL_SOURCES = ("databricks_pdf_ocr_spark/functions",
                   "databricks_pdf_ocr_spark/config.py",
                   "settings.toml", "tools/goldens.py")


@dataclass
class ExtractInputs:
    input_path: str          # parquet dir of (doc_id, spans)
    golden_path: str         # parquet dir of the expected (doc_id, spans)
    n_docs: int
    n_spans: int             # input spans
    failed_spans: int        # spans the reference marks failed
    input_hash: str
    golden_cached: bool


# ---------------------------------------------------------------------------
# extraction inputs + goldens
# ---------------------------------------------------------------------------

def _gen_range(task) -> list:
    seed, profile, lo, hi = task
    rows = []
    for idx in range(lo, hi):
        did, spans = fixtures.gen_doc(seed, idx, profile)
        rows.append((did, [{"kind": k, "text": t, "media_ref": m, "offset": o}
                           for (k, t, m, o) in spans]))
    return rows


def _golden_range(rows) -> tuple[list, int]:
    """Reference output for ``rows`` and the number of failed input spans.

    Failures are counted by wrapping the kernel the reference calls, in
    this worker process only; the reference loop itself is unchanged.
    """
    from databricks_pdf_ocr_spark.config import load_config
    from tools import goldens

    cfg = load_config()
    failed = 0
    kernel = goldens.extract_span

    def counting(*a, **kw):
        nonlocal failed
        out = kernel(*a, **kw)
        failed += out[0] == "failed"
        return out

    goldens.extract_span = counting
    try:
        out = []
        for did, spans in rows:
            seq = goldens.golden_extract_doc(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans], cfg)
            if seq:                       # no output span → doc absent
                out.append((did, [{"kind": k, "text": t, "media_ref": m,
                                   "offset": o} for (k, t, m, o) in seq]))
        return out, failed
    finally:
        goldens.extract_span = kernel


def _chunks(n: int, parts: int) -> list[tuple[int, int]]:
    step = max(1, -(-n // parts))
    return [(lo, min(n, lo + step)) for lo in range(0, n, step)]


def _source_hash(root: Path) -> str:
    h = hashlib.sha256()
    for rel in _KERNEL_SOURCES:
        p = root / rel
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _write_rows(rows: list, path: Path, files: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    for i, (lo, hi) in enumerate(_chunks(len(rows), files)):
        part = rows[lo:hi]
        table = pa.Table.from_pydict(
            {"doc_id": [r[0] for r in part], "spans": [r[1] for r in part]},
            schema=DOCS_ARROW)
        pq.write_table(table, path / f"part-{i:05d}.parquet",
                       row_group_size=16)


def extraction_inputs(root: Path, work: Path, run_dir: Path, name: str,
                      profile, seed: int, n_docs: int,
                      procs: int) -> ExtractInputs:
    """Generate the input in ``procs`` worker processes, write it under
    ``run_dir``, and load or compute its goldens under ``work/goldens``."""
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(procs) as pool:
        rows = [r for part in pool.map(
            _gen_range, [(seed, profile, lo, hi)
                         for lo, hi in _chunks(n_docs, procs * 4)])
                for r in part]
        h = hashlib.sha256(_source_hash(root).encode())
        for did, spans in rows:
            h.update(did.encode())
            h.update(json.dumps(spans, sort_keys=True).encode())
        input_hash = h.hexdigest()
        gdir = work / "goldens" / f"{name}-{input_hash[:20]}"
        cached = (gdir / "meta.json").exists()
        if not cached:
            parts = pool.map(_golden_range,
                             [rows[lo:hi] for lo, hi in
                              _chunks(len(rows), procs * 4)])
            golden = [r for p, _ in parts for r in p]
            tmp = gdir.with_name(gdir.name + ".tmp")
            _write_rows(golden, tmp / "golden.parquet", 1)
            (tmp / "meta.json").write_text(json.dumps({
                "failed_spans": sum(f for _, f in parts)}))
            os.replace(tmp, gdir)
        pool.close()
        pool.join()
    meta = json.loads((gdir / "meta.json").read_text())
    input_path = run_dir / "input"
    _write_rows(rows, input_path, procs * 2)
    return ExtractInputs(
        input_path=str(input_path),
        golden_path=str(gdir / "golden.parquet"),
        n_docs=n_docs, n_spans=sum(len(s) for _, s in rows),
        failed_spans=meta["failed_spans"], input_hash=input_hash,
        golden_cached=cached)


# ---------------------------------------------------------------------------
# curate corpus + expected kept set
# ---------------------------------------------------------------------------

def _vocab(rng: random.Random, n: int = 4000) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
           "gu", "ho", "ji", "be", "fa", "zo", "wi", "yu", "xe", "qa"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def curate_corpus(seed: int, n_docs: int) -> list[tuple[str, list[dict]]]:
    """``(doc_id, spans)`` rows shaped like ``extracted_documents``.

    Groups, drawn at random until ``n_docs`` docs exist:
      * 45% unique docs;
      * 25% near-dup clusters: a base doc plus 1–3 variants, each with one
        word replaced (Jaccard of 3-gram shingles ≈ 0.97 to the base);
      * 15% exact-dup groups: 2–3 docs with identical text;
      * 15% decoy pairs: the second doc repeats the first 40% of the
        first and continues with new words (Jaccard ≈ 0.25, below the 0.3
        verify threshold: about a quarter become LSH candidates, none may
        merge).
    Text is split over 1–4 text spans with an occasional media span.
    """
    rng = random.Random(f"curate:{seed}")
    vocab = _vocab(random.Random("curate-vocab"))

    def words(n: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(n)]

    texts: list[list[str]] = []
    while len(texts) < n_docs:
        base = words(rng.randint(120, 240))
        r = rng.random()
        texts.append(base)
        if r < 0.45:
            continue
        if r < 0.70:
            for _ in range(rng.randint(1, 3)):
                var = list(base)
                pos = rng.randrange(len(var))
                var[pos] = rng.choice([w for w in vocab[:50] if w != var[pos]])
                texts.append(var)
        elif r < 0.85:
            texts.extend(list(base) for _ in range(rng.randint(1, 2)))
        else:
            keep = int(len(base) * 0.4)
            texts.append(base[:keep] + words(len(base) - keep))
    rows = []
    for i, toks in enumerate(texts[:n_docs]):
        did = hashlib.sha256(f"curate:{seed}:{i}".encode()).hexdigest()
        cuts = sorted(rng.sample(range(1, len(toks)), rng.randint(0, 3)))
        pieces = [toks[a:b] for a, b in zip([0] + cuts, cuts + [len(toks)])]
        spans = [{"kind": "text", "text": " ".join(p), "media_ref": None}
                 for p in pieces]
        if rng.random() < 0.2:
            spans.insert(rng.randrange(len(spans) + 1),
                         {"kind": "media", "text": None,
                          "media_ref": f"pdfimg:{did[:16]}{i}"})
        rows.append((did, [dict(s, offset=j) for j, s in enumerate(spans)]))
    return rows


def curate_expected(rows, threshold: float = 0.3, n: int = 3) -> set[str]:
    """Doc ids the curate ladder must keep (no quality gate, no sampling):
    exact dedup keeps the smallest id per text, then every connected
    component of pairs with exact n-gram Jaccard ≥ ``threshold`` keeps its
    smallest id.  Tokenization follows the engine's: lower-case, split on
    single spaces, text spans joined by one space."""
    by_text: dict[str, str] = {}
    for did, spans in rows:
        text = " ".join(s["text"] for s in spans if s["kind"] == "text")
        if text and (text not in by_text or did < by_text[text]):
            by_text[text] = did
    shingles = {}
    for text, did in by_text.items():
        toks = text.lower().split(" ")
        shingles[did] = {" ".join(toks[i:i + n])
                         for i in range(len(toks) - n + 1)}
    index: dict[str, list[str]] = {}
    for did, sh in shingles.items():
        for s in sh:
            index.setdefault(s, []).append(did)
    parent = {d: d for d in shingles}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen: set[tuple[str, str]] = set()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                pair = (a, b) if a < b else (b, a)
                if pair in seen:
                    continue
                seen.add(pair)
                sa, sb = shingles[a], shingles[b]
                inter = len(sa & sb)
                if round(inter / (len(sa) + len(sb) - inter), 6) >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    return {d for d in shingles if find(d) == d}
