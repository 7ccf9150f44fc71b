"""Seeded benchmark inputs, cached by a key over everything that shapes them.

Every generated input lives under ``<work>/inputs/<key>/`` where ``key``
hashes the workload name, the seed, the generator parameters, and the
source of both ``document_parser_private_spark/corpus.py`` and this file.
An encoding change in either generator therefore yields a new key instead
of silently reusing stale parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from document_parser_private_spark import corpus, oracle
from document_parser_private_spark import semantics as S
from document_parser_private_spark.operators.sections import SECTIONS_FIELDS
from document_parser_private_spark.plans.pipeline import HEAVY_BYTES

SAMPLE_DOCS = 128  # fixed seeded sample checked against the oracle

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", SPANS_TYPE),
    ("byte_size", pa.int64()), ("doc_type", pa.string()), ("part", pa.int32()),
])

# generator parameters per input; part of the cache key
PARAMS = {
    # 4 files of 312 docs: one scan task per core, each as large as a
    # bench.py shard (20000 docs in 64 files), so the per-task section
    # memos see as many docs as there
    "extract_tmpl": {"docs": 1248, "shards": 4, "giant_frac": 0.01},
    # one corpus for the warm-up and one per timed pass, each with its
    # own vocabulary, so no pass finds its phrases in a worker's memo; the
    # warm-up corpus is smaller, as its memo entries are never read again
    "extract_longtail": {"docs": 500, "warmup_docs": 100, "giant_frac": 0.05,
                         "vocab": 60000,
                         "file_shares": [0.34, 0.24, 0.18, 0.14, 0.10],
                         "corpora": 7},
    "analytics_tables": {"docs": 5000, "embeddings": 2000, "dim": 64,
                         "labels": 10, "sources": 20, "warmup_docs": 200,
                         "warmup_embeddings": 100},
}


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in (corpus.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cache_key(name: str, seed: int) -> str:
    blob = json.dumps([name, seed, PARAMS[name], _source_digest()],
                      sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _write_docs(path: str, docs: list) -> None:
    pq.write_table(pa.Table.from_pylist(corpus.docs_to_rows(docs),
                                        schema=DOCS_SCHEMA),
                   path, compression="zstd")


def _sample(docs: list, seed: int) -> list:
    """A seeded sample that holds at least one giant doc when the corpus
    has any: if the draw holds none, one drawn doc is swapped for one."""
    rng = random.Random(seed * 7919 + 1)
    idx = rng.sample(range(len(docs)), min(SAMPLE_DOCS, len(docs)))
    giants = [i for i, d in enumerate(docs) if d.byte_size > HEAVY_BYTES]
    if giants and not set(giants) & set(idx):
        idx[rng.randrange(len(idx))] = rng.choice(giants)
    return [docs[i] for i in sorted(idx)]


# ---------------------------------------------------------------- longtail

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
_KEEP = {m.lower() for m in corpus.MONTHS} | {"present", "gpa", "project"}
_TOKEN_EDGE = re.compile(r"^(\W*)(.*?)(\W*)$", re.S)
_WORDLIKE = re.compile(r"[A-Za-z0-9.\-]*[A-Za-z][A-Za-z0-9.\-]*")


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.update("".join(rng.choices(_SYLLABLES, k=k))
                     for k in rng.choices((2, 3, 4), k=size - len(words)))
    return sorted(words)


def _rewrite(text: str, rng: random.Random, vocab: list[str]) -> str:
    out = []
    for tok in text.split(" "):
        lead, core, trail = _TOKEN_EDGE.match(tok).groups()
        if (len(core) >= 2 and _WORDLIKE.fullmatch(core)
                and core.lower() not in _KEEP):
            w = rng.choice(vocab)
            if core.isupper():
                w = w.upper()
            elif core[0].isupper():
                w = w.capitalize()
            tok = lead + w + trail
        out.append(tok)
    return " ".join(out)


def _bloat(doc, lines: int, rng: random.Random) -> list:
    """Insert the generator's giant-doc body lines before the EDUCATION
    heading of a single-column resume, re-lay its rows, return the lines."""
    at = next((j for j, s in enumerate(doc.spans)
               if s.text.startswith("EDUCATION")), len(doc.spans))
    extra = [corpus.Span("text", f"- Maintained batch job #{k} using Python",
                         None, 0) for k in range(lines)]
    doc.spans[at:at] = extra
    for j, s in enumerate(doc.spans):
        s.offset = S.encode_offset(3 * j + rng.randint(0, 1), rng.randint(0, 8))
    return extra


def _add_giants(docs: list, frac: float, rng: random.Random) -> set:
    """Turn exactly ``frac`` of the docs, drawn from the single-column
    resumes, into giants with the generator's 100-1000 body lines spread
    evenly over that range rather than drawn at random, so the total work
    of a corpus does not swing with the seed. Returns the ids of the
    inserted spans."""
    single = [d for d in docs
              if d.doc_type in ("resume_text", "resume_rich", "resume_media")]
    giants = rng.sample(single, round(frac * len(docs)))
    sizes = [100 + round(900 * (i + 0.5) / len(giants))
             for i in range(len(giants))]
    rng.shuffle(sizes)
    added = {id(s) for d, lines in zip(giants, sizes)
             for s in _bloat(d, lines, rng)}
    for d in giants:
        d.byte_size = sum(len(s.text) for s in d.spans)
    return added


def template_docs(n: int, seed: int, giant_frac: float) -> list:
    """The template generator's corpus with its giant tail made exact."""
    docs = corpus.generate_docs(n, seed=seed, skew_frac=0.0)
    _add_giants(docs, giant_frac, random.Random(seed * 104729 + 7))
    return docs


def longtail_docs(n: int, seed: int, giant_frac: float,
                  vocab_size: int) -> list:
    """The template generator with free-text words redrawn from a large
    seeded vocabulary, so section texts and skill tokens rarely repeat.
    Headings, boilerplate spans, digits, dates and punctuation are kept,
    so the section structure and the classify decisions stay those of
    the template corpus. The giant tail keeps the generator's wording (a
    giant is large because of one repeated structure), so a giant costs
    layout and parsing per line while the cold fuzzy matching stays with
    the ordinary docs."""
    rng = random.Random(seed * 104729 + 3)
    vocab = _vocabulary(rng, vocab_size)
    docs = corpus.generate_docs(n, seed=seed, skew_frac=0.0)
    kept = _add_giants(docs, giant_frac, rng)
    for d in docs:
        for s in d.spans:
            if s.kind == "text" and id(s) not in kept and S.classify_span(
                    s.kind, s.text, s.media_ref) != "boilerplate":
                s.text = _rewrite(s.text, rng, vocab)
        d.byte_size = sum(len(s.text) for s in d.spans)
    return docs


# ---------------------------------------------------------------- analytics

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def analytics_tables(n_docs: int, n_emb: int, dim: int, labels: int,
                     sources: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label) in the shape of the sf tables:
    10-100 words from a 30-word vocabulary, 5% near-duplicates (an
    earlier doc's text plus ' dup'), unit-norm clustered embeddings."""
    rng = random.Random(seed * 15485863 + 5)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS)
                                  for _ in range(rng.randint(10, 100))))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % sources}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]
    vecs, labs = [], []
    for _ in range(n_emb):
        lab = rng.randrange(labels)
        v = [c + rng.gauss(0, 0.6) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labs.append(lab)
    emb = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labs, pa.int32()),
    })
    return docs, emb


# ---------------------------------------------------------------- properties

def _repeat_share(values: list) -> float:
    return round(1 - len(set(values)) / len(values), 4) if values else 0.0


def _parsed(d) -> tuple[dict, list[str], int, int]:
    """(sections, skill tokens, blocks kept, blocks dropped) of one doc,
    from the oracle."""
    clean, kept, dropped = oracle.classify_and_emit(
        [s.as_dict() for s in d.spans])
    secs = oracle.sections_of(clean)
    tokens = [t for t in map(str.strip, re.split(
        S.SKILL_SPLIT_RE, secs.get("skills") or ""))
        if t and S.match_section_heading(t) is None]
    return secs, tokens, kept or 0, dropped or 0


def corpus_facts(files: list[list]) -> tuple[dict, dict, set]:
    """(properties, expected totals, distinct section texts and skill
    tokens) of one corpus stored as ``files``.

    Properties are what memo, skew and read-spread claims depend on: the
    repeat share of each section's text over the corpus and within each
    file (the scope of the education and projects memos, which live for
    one scan task), the skill-token repeat share over the corpus (the
    fuzzy memo lives in a worker across tasks), the giant-doc share
    (byte_size above the salting threshold) and docs per file."""
    pooled: dict[str, list[str]] = {n: [] for n in SECTIONS_FIELDS}
    per_file: dict[str, list[float]] = {n: [] for n in SECTIONS_FIELDS}
    tokens: list[str] = []
    kept = dropped = 0
    for docs in files:
        texts: dict[str, list[str]] = {n: [] for n in SECTIONS_FIELDS}
        for d in docs:
            secs, toks, k, dr = _parsed(d)
            kept, dropped = kept + k, dropped + dr
            tokens += toks
            for name in SECTIONS_FIELDS:
                if secs.get(name):
                    texts[name].append(secs[name])
        for name, v in texts.items():
            if v:
                pooled[name] += v
                per_file[name].append(_repeat_share(v))
    docs = [d for f in files for d in f]
    props = {
        "section_repeat_share": {n: _repeat_share(v)
                                 for n, v in pooled.items() if v},
        "section_repeat_share_per_file": {
            n: round(sum(v) / len(v), 4) for n, v in per_file.items() if v},
        "skill_token_repeat_share": _repeat_share(tokens),
        "giant_doc_share": round(
            sum(d.byte_size > HEAVY_BYTES for d in docs) / len(docs), 4),
        "docs_per_file": [len(f) for f in files],
    }
    totals = {"rows": len(docs), "kept": kept, "dropped": dropped}
    keys = {("t", t) for t in tokens} | {
        (n, t) for n, v in pooled.items() for t in v}
    return props, totals, keys


# ---------------------------------------------------------------- entry

def _split(docs: list, shares: list[float]) -> list[list]:
    bounds = [0]
    for share in shares[:-1]:
        bounds.append(bounds[-1] + round(share * len(docs)))
    bounds.append(len(docs))
    return [docs[a:b] for a, b in zip(bounds, bounds[1:])]


def corpus_dir(inp: str, k: int) -> str:
    return os.path.join(inp, f"corpus-{k:02d}")


def _build(name: str, seed: int, out: str) -> dict:
    p = PARAMS[name]
    meta: dict = {"name": name, "seed": seed, "params": p}
    if name == "analytics_tables":
        for name, n_docs, n_emb in (("main", p["docs"], p["embeddings"]),
                                    ("warmup", p["warmup_docs"],
                                     p["warmup_embeddings"])):
            os.makedirs(os.path.join(out, name))
            docs, emb = analytics_tables(n_docs, n_emb, p["dim"], p["labels"],
                                         p["sources"], seed)
            # one file, one row group: the layout of the sf test tables
            pq.write_table(docs, os.path.join(out, name, "documents.parquet"))
            pq.write_table(emb, os.path.join(out, name, "embeddings.parquet"))
        meta["docs"] = p["docs"]
        return meta

    if name == "extract_longtail":
        # corpus 0 is read by the warm-up, corpus k > 0 by the k-th timed
        # pass; the gate checks corpus 1
        corpora = [_split(longtail_docs(p["docs"] if k else p["warmup_docs"],
                                        seed * 16 + k, p["giant_frac"],
                                        p["vocab"]),
                          p["file_shares"]) for k in range(p["corpora"])]
        gate = 1
    else:
        docs = template_docs(p["docs"], seed, p["giant_frac"])
        corpora = [_split(docs, [1 / p["shards"]] * p["shards"])]
        gate = 0
    totals, seen, earlier = [], set(), []
    for k, files in enumerate(corpora):
        os.makedirs(corpus_dir(out, k))
        for i, f in enumerate(files):
            _write_docs(os.path.join(corpus_dir(out, k),
                                     f"part-{i:05d}.parquet"), f)
        props, tot, keys = corpus_facts(files)
        totals.append(tot)
        if k == gate:
            meta["properties"] = props
        if k:
            earlier.append(len(keys & seen) / len(keys))
        seen |= keys
    if earlier:
        # share of a timed corpus's distinct section texts and skill tokens
        # that an earlier corpus (the warm-up's included) already had:
        # what a worker's memos could hit, at most
        meta["properties"]["seen_in_earlier_corpus_max"] = round(
            max(earlier), 4)
    docs = [d for f in corpora[gate] for d in f]
    sample = _sample(docs, seed)
    os.makedirs(os.path.join(out, "sample"))
    _write_docs(os.path.join(out, "sample", "part-00000.parquet"), sample)
    meta.update(docs=totals[gate]["rows"], corpora=len(corpora), gate=gate,
                totals=totals, parts=sorted({d.part for d in docs}),
                sample_giants=sum(d.byte_size > HEAVY_BYTES for d in sample))
    return meta


def prepare(name: str, seed: int, work: str) -> tuple[str, dict]:
    """Return (input dir, metadata), generating the input on a cache miss."""
    path = os.path.join(work, "inputs", f"{name}-{cache_key(name, seed)}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _build(name, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        return path, json.load(f)


def sample_rows(path: str) -> list[dict]:
    """The gate sample as corpus rows (the oracle's input shape)."""
    return pq.read_table(os.path.join(path, "sample")).to_pylist()
