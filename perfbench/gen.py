"""Seeded input generator for the pipeline benchmark.

Everything here is stdlib + pyarrow: WARC bytes are assembled by
hand and parquet shards are written with pyarrow, never through the
package's own writers, so a change to the program cannot change its
input. The same ``seed`` always yields the same bytes.

Input properties (the knobs the pipelines' behaviour depends on). No
share below is taken from a published corpus measurement: each is an
assumption, picked so that the layer it names has real work to do on
every seed.

- document length: log-normal word count (median ~120 words, ~1.1 kB
  mean), a heavy tail up to ~3000 words, and ~15% of docs under the
  50-word Gopher floor (Gopher's word-count rule fires). The lengths are
  the distribution's evenly spaced quantiles in a seeded order, so every
  seed makes the same amount of text and a pass's work does not vary
  with the seed;
- duplicates: ``EXACT_SHARE`` of docs are exact copies (case/whitespace
  variants: the exact-dedup key normalizes them) and ``NEAR_SHARE`` are
  1-3 word edits of another doc (only MinHash-LSH finds them), in
  clusters of 2-4, plus ``BIG_FAMILIES`` near-duplicate families of
  ``BIG_FAMILY_SIZE`` edits of a ~500-word page, larger than the LSH
  bucket cap (64), which the cap is meant to skip;
- ``LOW_QUALITY_SHARE`` low-quality pages (symbol soup, bullet lists)
  that Gopher's alpha-word and bullet-line rules reject;
- PII (emails, IPv4, spaced and compact IBANs, Luhn-valid and invalid
  card numbers) in 35% of docs, so every scrubber pattern matches, and
  mojibake (UTF-8 read as cp1252, whole-doc and mixed with clean
  accents) in 12%, so fix_mojibake repairs text; curate only;
- shards: 10 files for 4 cores, two of them 3x oversized, so a pass
  has stragglers;
- lifecycle: every month re-crawls ``RECRAWL_SHARE`` of earlier months'
  pages (same doc id, exact or edited), so the store probe drops docs,
  and the stores grow month by month.
"""

from __future__ import annotations

import gzip
import math
import os
import random
import statistics
from dataclasses import dataclass, field

EXACT_SHARE = 0.08
NEAR_SHARE = 0.08
BIG_FAMILIES = 2
BIG_FAMILY_SIZE = 100
#: a family's root length in words: long enough that a 1-3 word edit
#: keeps most 2-row band keys and the family's buckets stay above the
#: cap; the originals nearest this length are the roots, so the
#: families' share of the text is the same for every seed
BIG_FAMILY_ROOT_WORDS = 500
LOW_QUALITY_SHARE = 0.06
RECRAWL_SHARE = 0.3
EMB_DIM = 32
N_LISTS = 8

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")
_SYLLABLES = ("ka", "lo", "mi", "ren", "tu", "sa", "vel", "on", "dra",
              "pi", "ne", "mor", "ta", "si", "gal", "ru", "fen", "ba",
              "ci", "dor", "el", "qua", "tin", "zo", "har", "ly", "mest",
              "pra", "nu", "ox")
_ACCENTED = ("café", "naïve", "résumé", "façade", "señor", "über",
             "crème", "brûlée", "jalapeño", "coöperate", "Zürich", "Köln")
_PUNCT_MOJI = ("’", "“", "—", "–")


def _vocabulary() -> tuple[list[str], list[float]]:
    """A fixed 4000-word vocabulary with Zipf weights (independent of the
    seed, so every seed draws from the same language)."""
    rng = random.Random(7919)
    words: set[str] = set()
    while len(words) < 4000:
        w = "".join(rng.choice(_SYLLABLES)
                    for _ in range(rng.choice((1, 2, 2, 3, 3, 4))))
        if 3 <= len(w) <= 12 and w not in STOPWORDS:
            words.add(w)
    vocab = sorted(words)
    rng.shuffle(vocab)
    cum, acc = [], 0.0
    for i in range(len(vocab)):
        acc += 1.0 / (i + 10)
        cum.append(acc)
    return vocab, cum


VOCAB, _CUM = _vocabulary()


@dataclass
class Doc:
    doc_id: int
    text: str
    source: str = "web"
    quality: int = 0
    embedding: list[float] = field(default_factory=list)
    #: what the generator made: "orig", "lowq" (Gopher reject), "exact"
    #: (case/whitespace variant), "near" (1-3 word edit), "family"
    #: (member of an oversized near-dup family), or a lifecycle re-crawl
    #: of an earlier month's page, "recrawl" (same text) or
    #: "recrawl_edit" (1-3 word edit)
    kind: str = "orig"
    root: int = -1               # doc id a copy was made from


def _words(rng: random.Random, n: int) -> list[str]:
    ws = rng.choices(VOCAB, cum_weights=_CUM, k=n)
    for i in range(n):
        if rng.random() < 0.28:
            ws[i] = STOPWORDS[rng.randrange(len(STOPWORDS))]
    return ws


def _luhn_digit(digits: str) -> str:
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


def _card(rng: random.Random, valid: bool) -> str:
    body = "4" + "".join(str(rng.randrange(10)) for _ in range(14))
    check = _luhn_digit(body)
    if not valid:
        check = str((int(check) + 1 + rng.randrange(9)) % 10)
    num = body + check
    return " ".join(num[i:i + 4] for i in range(0, 16, 4))


def _pii_token(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        return f"user{rng.randrange(10**5)}@host{rng.randrange(50)}.example.org"
    if r < 0.6:
        return ".".join(str(rng.randrange(256)) for _ in range(4))
    if r < 0.7:
        groups = " ".join(f"{rng.randrange(10**4):04d}" for _ in range(4))
        return f"DE{rng.randrange(10, 99)} {groups} {rng.randrange(10, 99)}"
    if r < 0.78:
        return f"GB{rng.randrange(10, 99)}WEST{rng.randrange(10**13):013d}"
    return _card(rng, valid=r < 0.92)


def _layout(rng: random.Random, ws: list[str]) -> str:
    """Words -> sentences (6-18 words, capitalised, full stop) ->
    paragraphs (2-6 sentences, newline separated)."""
    paras, sent, para = [], [], []
    target = rng.randint(6, 18)
    for w in ws:
        sent.append(w)
        if len(sent) >= target:
            sent[0] = sent[0].capitalize()
            para.append(" ".join(sent) + ".")
            sent, target = [], rng.randint(6, 18)
            if len(para) >= rng.randint(2, 6):
                paras.append(" ".join(para))
                para = []
    if sent:
        sent[0] = sent[0].capitalize()
        para.append(" ".join(sent) + ".")
    if para:
        paras.append(" ".join(para))
    return "\n".join(paras)


def _doc_lengths(rng: random.Random, n: int) -> list[int]:
    """``n`` word counts at evenly spaced quantiles of a log-normal
    (median 120, sigma 0.9, at least 8), in a seeded order."""
    inv = statistics.NormalDist(math.log(120), 0.9).inv_cdf
    out = [max(8, int(math.exp(inv((i + 0.5) / n)))) for i in range(n)]
    rng.shuffle(out)
    return out


def _low_quality(rng: random.Random) -> str:
    if rng.random() < 0.5:  # symbol soup: alpha-word fraction far below 0.8
        return "\n".join(
            " ".join(rng.choice(("###", "12", "4.5", "|", "##", "77", "0x1f"))
                     + (rng.choice(VOCAB) if rng.random() < 0.2 else "")
                     for _ in range(rng.randint(8, 16)))
            for _ in range(rng.randint(6, 20)))
    return "\n".join("- " + " ".join(_words(rng, rng.randint(4, 10)))
                     for _ in range(rng.randint(12, 40)))


def _edit(rng: random.Random, text: str) -> str:
    """1-3 word edits (replace, delete or insert) of one text."""
    lines = [ln.split(" ") for ln in text.split("\n")]
    for _ in range(rng.randint(1, 3)):
        ln = lines[rng.randrange(len(lines))]
        i = rng.randrange(len(ln))
        op = rng.random()
        if op < 0.5:
            ln[i] = rng.choice(VOCAB)
        elif op < 0.75 and len(ln) > 1:
            del ln[i]
        else:
            ln.insert(i, rng.choice(VOCAB))
    return "\n".join(" ".join(ln) for ln in lines)


def _exact_variant(rng: random.Random, text: str) -> str:
    """Same normalized text: case and whitespace changes only."""
    r = rng.random()
    if r < 0.4:
        return text
    if r < 0.7:
        return text.upper() if rng.random() < 0.2 else text.lower()
    return "  " + text.replace(" ", "  ", 3) + " \n"


def _base_text(rng: random.Random, n_words: int, pii: bool) -> str:
    ws = _words(rng, n_words)
    if pii:
        for _ in range(rng.randint(1, 3)):
            ws.insert(rng.randrange(len(ws) + 1), _pii_token(rng))
    return _layout(rng, ws)


def _mojibake(rng: random.Random, text: str) -> str:
    """Insert accented words / typographic punctuation; for 2/3 of the
    docs mis-decode the whole doc (UTF-8 bytes read as cp1252), for the
    rest only the inserted words, next to a clean accent."""
    ws = text.split(" ")
    for _ in range(rng.randint(2, 6)):
        pick = rng.choice(_ACCENTED + _PUNCT_MOJI)
        ws.insert(rng.randrange(len(ws) + 1), pick)
    if rng.random() < 0.67:
        return " ".join(ws).encode("utf-8").decode("cp1252")
    bad = [w.encode("utf-8").decode("cp1252") if rng.random() < 0.5 else w
           for w in ws]
    return " ".join(bad) + " " + rng.choice(_ACCENTED)


def corpus(rng: random.Random, n: int, first_id: int = 0,
           pii: bool = False) -> list[Doc]:
    """``n`` documents with the duplicate, length and quality mix above."""
    docs: list[Doc] = []
    families = BIG_FAMILIES if n >= 2000 else 0
    n_big = families * BIG_FAMILY_SIZE
    n_dup = int(n * (EXACT_SHARE + NEAR_SHARE))
    n_lowq = int(n * LOW_QUALITY_SHARE)
    n_orig = n - n_dup - n_big - n_lowq
    nid = first_id
    for n_words in _doc_lengths(rng, n_orig):
        docs.append(Doc(nid, _base_text(rng, n_words,
                                        pii and rng.random() < 0.35)))
        nid += 1
    originals = list(docs)
    for _ in range(n_lowq):
        docs.append(Doc(nid, _low_quality(rng), kind="lowq"))
        nid += 1
    roots = sorted(originals, key=lambda d: (
        abs(len(d.text.split()) - BIG_FAMILY_ROOT_WORDS), d.doc_id))
    for root in roots[:families]:  # oversized near-dup families (boilerplate)
        for _ in range(BIG_FAMILY_SIZE):
            docs.append(Doc(nid, _edit(rng, root.text), kind="family",
                            root=root.doc_id))
            nid += 1
    n_exact = int(n * EXACT_SHARE)
    made = 0
    while made < n_dup:  # small clusters of 2-4 copies
        root = rng.choice(originals)
        for _ in range(min(rng.randint(1, 3), n_dup - made)):
            if made < n_exact:
                docs.append(Doc(nid, _exact_variant(rng, root.text),
                                kind="exact", root=root.doc_id))
            else:
                docs.append(Doc(nid, _edit(rng, root.text), kind="near",
                                root=root.doc_id))
            nid += 1
            made += 1
    if pii:
        for d in docs:  # low-quality pages stay as made: a word put before
            # a bullet list's first dash can lift it past the bullet rule
            if rng.random() < 0.12 and d.kind != "lowq":
                d.text = _mojibake(rng, d.text)
    order = list(range(len(docs)))
    rng.shuffle(order)
    return [docs[i] for i in order]


def _shard_sizes(n: int, n_shards: int, n_big: int = 2) -> list[int]:
    """``n_shards`` shards, ``n_big`` of them 3x the others."""
    unit = n / (n_shards - n_big + 3 * n_big)
    sizes = [int(unit * (3 if i < n_big else 1)) for i in range(n_shards)]
    sizes[-1] += n - sum(sizes)
    return sizes


def _split(items: list, sizes: list[int]) -> list[list]:
    out, at = [], 0
    for s in sizes:
        out.append(items[at:at + s])
        at += s
    return out


# --------------------------------------------------------------- WARC

_WARC_DATE = "2024-06-01T00:00:00Z"


def _warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers.items())
    head += f"Content-Length: {len(payload)}\r\n\r\n"
    return head.encode("utf-8") + payload + b"\r\n\r\n"


def _html(doc: Doc) -> str:
    body = "".join(f"<p>{p}</p>\n" for p in doc.text.split("\n"))
    return ("<!DOCTYPE html><html><head><title>page "
            f"{doc.doc_id}</title><style>p {{margin: 0}}</style>"
            "<script>var t = 1;</script></head><body>"
            f"<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/x\">"
            f"Archive</a></div>\n<article>{body}</article>"
            "<noscript>enable scripts</noscript></body></html>")


def warc_response(doc: Doc) -> bytes:
    body = _html(doc).encode("utf-8")
    http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii") + body
    return _warc_record({
        "WARC-Type": "response",
        "WARC-Target-URI": f"http://host{doc.doc_id % 97}.example.com/page/{doc.doc_id}",
        "WARC-Date": _WARC_DATE,
        "Content-Type": "application/http; msgtype=response",
    }, http)


def write_warc_shards(docs: list[Doc], out_dir: str,
                      n_shards: int) -> None:
    """Multi-member gzip WARC files: one warcinfo record, then one gzip
    member per response record (the Common Crawl layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for s, part in enumerate(_split(docs, _shard_sizes(len(docs), n_shards))):
        info = _warc_record({"WARC-Type": "warcinfo", "WARC-Date": _WARC_DATE},
                            b"software: perfbench generator\r\n")
        members = [gzip.compress(info, compresslevel=1)]
        members += [gzip.compress(warc_response(d), compresslevel=1)
                    for d in part]
        with open(os.path.join(out_dir, f"shard-{s:03d}.warc.gz"), "wb") as f:
            f.write(b"".join(members))


# ------------------------------------------------------------ parquet

def write_parquet_shards(docs: list[Doc], out_dir: str, n_shards: int,
                         columns: tuple[str, ...]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"doc_id": pa.int64(), "text": pa.string(), "source": pa.string(),
             "quality": pa.int32(), "embedding": pa.list_(pa.float32())}
    os.makedirs(out_dir, exist_ok=True)
    for s, part in enumerate(_split(docs, _shard_sizes(len(docs), n_shards))):
        cols = {c: pa.array([getattr(d, c) for d in part], types[c])
                for c in columns}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{s:03d}.parquet"),
                       compression="zstd")


# ---------------------------------------------------------- workloads

@dataclass
class Inputs:
    path: str
    n_docs: int                  # documents a pass reads
    docs: list[Doc]              # ground truth for the output checks
    months: list[list[Doc]] = field(default_factory=list)
    centroids: list[list[float]] = field(default_factory=list)
    queries: list[list[float]] = field(default_factory=list)


def make_curate(seed: int, root: str, n: int = 1500) -> Inputs:
    rng = random.Random(seed * 1_000_003 + 11)
    docs = corpus(rng, n, pii=True)
    write_warc_shards(docs, root, n_shards=10)
    return Inputs(root, len(docs), docs)


_SOURCES = (("web", 0.6), ("books", 0.25), ("code", 0.15))


def make_dedup_mix(seed: int, root: str, n: int = 3000) -> Inputs:
    rng = random.Random(seed * 1_000_003 + 23)
    docs = corpus(rng, n)
    names = [s for s, _ in _SOURCES]
    weights = [w for _, w in _SOURCES]
    for d in docs:
        d.source = rng.choices(names, weights)[0]
        d.quality = rng.randrange(1000)
    write_parquet_shards(docs, root, 10, ("doc_id", "source", "quality", "text"))
    return Inputs(root, len(docs), docs)


def _unit(rng: random.Random, dim: int) -> list[float]:
    v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    norm = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / norm for x in v]


def _near(rng: random.Random, c: list[float], sd: float) -> list[float]:
    return [x + rng.gauss(0.0, sd) for x in c]


def make_lifecycle(seed: int, root: str, n0: int = 2000, n_month: int = 1000,
                   months: int = 1, n_queries: int = 4) -> Inputs:
    """Month 0 seeds both stores; months 1..M each mix fresh pages with
    re-crawls (same doc id, exact or 1-3 word edits) of earlier months."""
    rng = random.Random(seed * 1_000_003 + 37)
    centroids = [_unit(rng, EMB_DIM) for _ in range(N_LISTS)]

    def embed(d: Doc) -> None:
        d.embedding = _near(rng, centroids[rng.randrange(N_LISTS)], 0.25)

    m0 = corpus(rng, n0)
    for d in m0:
        embed(d)
    all_months = [m0]
    seen = list(m0)
    next_id = n0
    for _ in range(months):
        fresh = corpus(rng, n_month - int(n_month * RECRAWL_SHARE),
                       first_id=next_id)
        next_id += len(fresh)
        for d in fresh:
            embed(d)
        recrawl = []
        for old in rng.sample(seen, int(n_month * RECRAWL_SHARE)):
            edited = rng.random() < 0.5
            d = Doc(old.doc_id, _edit(rng, old.text) if edited else old.text,
                    embedding=_near(rng, old.embedding, 0.02),
                    kind="recrawl_edit" if edited else "recrawl",
                    root=old.doc_id)
            recrawl.append(d)
        month = fresh + recrawl
        rng.shuffle(month)
        all_months.append(month)
        seen.extend(fresh)
    for m, docs in enumerate(all_months):
        write_parquet_shards(docs, os.path.join(root, f"month={m}"),
                             4 if m else 10, ("doc_id", "text", "embedding"))
    queries = [_near(rng, centroids[i % N_LISTS], 0.2) for i in range(n_queries)]
    return Inputs(root, sum(len(m) for m in all_months),
                  [d for m in all_months for d in m], all_months,
                  centroids, queries)


MAKERS = {"curate": make_curate, "dedup_mix": make_dedup_mix,
          "lifecycle": make_lifecycle}
