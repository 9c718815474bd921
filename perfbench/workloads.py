"""The benchmark's pipeline stages, built only from the package's public
functions, the output check that follows each, and the workloads made of
them.

Each ``run_*`` executes one stage into a fresh ``out`` directory and
returns the frames the check needs (still cached); each ``check_*``
returns ``(errors, counts, digest)`` from the files the pass wrote, the
generator's ground truth and those frames. The checks recompute what they
verify in plain Python (pyarrow reads, whitespace token counts,
normalized-text keys), so a wrong answer from the engine cannot vouch for
itself.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import struct

import pyarrow.parquet as pq

#: LSH layout of both dedup workloads: 16 hashes in 8 bands of 2 rows
NUM_HASHES, BANDS = 16, 8
#: per-source token budget of the mix (binds on "web" and, on most
#: seeds, "books")
TOKEN_BUDGET = 90_000
#: Gopher's word-count floor and alpha-word fraction, each with a margin
#: for the engine's own word split: docs under either may be removed
GOPHER_MIN_WORDS, GOPHER_MIN_ALPHA = 55, 0.85
TOPK, NPROBE = 10, 2

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_ALPHA = re.compile(r"[A-Za-z]")


def n_tokens(text: str) -> int:
    """Whitespace token count with the engine's tokenizer semantics
    (trim spaces, split on ASCII whitespace, drop empties)."""
    return sum(1 for w in _WS.split(text.strip(" ")) if w)


def passes_gopher_length_alpha(text: str) -> bool:
    """Whether a doc clears Gopher's word-count and alpha-word rules by a
    margin (PII digit groups lower a short doc's alpha fraction)."""
    words = text.split()
    return (len(words) >= GOPHER_MIN_WORDS and GOPHER_MIN_ALPHA
            <= sum(1 for w in words if _ALPHA.search(w)) / len(words))


def norm_key(text: str) -> str:
    return _WS.sub(" ", text.lower()).strip(" ")


def _read(path: str, columns: list[str] | None = None) -> dict[str, list]:
    return pq.read_table(path, columns=columns).to_pydict()


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


# -------------------------------------------------------------- curate

def run_curate(spark, tr, inp, out: str) -> dict:
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep)
    from metadata_enhanced_pretrain_datapipeline_spark.operators import (
        formatters, tokens)
    from metadata_enhanced_pretrain_datapipeline_spark.operators.html_extract import (
        extract_text_col)
    from metadata_enhanced_pretrain_datapipeline_spark.plans import (
        FilterStep, Pipeline)
    from metadata_enhanced_pretrain_datapipeline_spark.sources import (
        readers, writers)

    with tr.span("sources.readers", "read_warc+http_body_str"):
        raw = readers.read_warc(spark, inp.path)
        parsed = tr.cut(raw.select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            readers.http_body_str(F.col("content")).alias("html")))
    with tr.span("operators.html_extract", "extract_text_col"):
        docs = tr.cut(parsed.select(
            "doc_id",
            extract_text_col(F.col("html"), fix_mojibake=True).alias("text")))
    with tr.span("functions.text", "gopher_quality_keep"):
        keep = gopher_quality_keep(F.col("text"))
        if tr.tracing:
            docs = tr.cut(docs.withColumn("keep", keep))
            keep = F.col("keep")

    def exclude(removed):
        with tr.span("sources.writers", "write_parquet:removed"):
            writers.write_parquet(removed.select("doc_id", "text", "reason"),
                                  f"{out}/removed")

    pipe = Pipeline([FilterStep("gopher", keep, exclusion_writer=exclude)])
    with tr.span("plans.pipeline", "run"):
        kept = tr.cut(pipe.run(docs).select("doc_id", "text"))
    with tr.span("operators.formatters", "pii_scrub+cc_pii_scrub"):
        # two sinks read the scrubbed corpus: compute it once
        scrubbed = tr.share(kept.select("doc_id", formatters.cc_pii_scrub(
            formatters.pii_scrub(F.col("text"))).alias("text")))
    with tr.span("operators.tokens", "write_megatron"):
        tokens.write_megatron(scrubbed, f"{out}/megatron", shards=4)
    with tr.span("sources.writers", "write_parquet"):
        writers.write_parquet(scrubbed, f"{out}/curated")
    pipe.unpersist_all()
    return {}


def _megatron_total(path: str) -> tuple[int, int]:
    """(token total from the .idx lengths, token total from .bin sizes)."""
    idx_total = bin_total = 0
    for idx in sorted(glob.glob(f"{path}/*.idx")):
        with open(idx, "rb") as f:
            head = f.read(9 + 8 + 1 + 8 + 8)
            code = head[17]
            n_docs = struct.unpack("<Q", head[18:26])[0]
            lengths = struct.unpack(f"<{n_docs}i", f.read(4 * n_docs))
        idx_total += sum(lengths)
        width = 2 if code == 8 else 4
        bin_total += os.path.getsize(idx[:-4] + ".bin") // width
    return idx_total, bin_total


def check_curate(inp, out: str, frames: dict) -> tuple[list[str], dict, str]:
    errors = []
    kept = _read(f"{out}/curated", ["doc_id", "text"])
    removed = _read(f"{out}/removed", ["doc_id"])
    parsed = {d.doc_id for d in inp.docs}
    k_ids, r_ids = kept["doc_id"], removed["doc_id"]
    if len(k_ids) + len(r_ids) != len(inp.docs):
        errors.append(f"kept {len(k_ids)} + removed {len(r_ids)} != parsed "
                      f"{len(inp.docs)}")
    if set(k_ids) | set(r_ids) != parsed or set(k_ids) & set(r_ids):
        errors.append("kept and removed do not partition the parsed ids")
    # Gopher must remove every low-quality page the generator made, and
    # may remove only those, docs near its length or alpha-word limits
    # and case variants (an all-caps copy has no lowercase stopwords)
    r_set = set(r_ids)
    kept_lowq = [d.doc_id for d in inp.docs if d.kind == "lowq"
                 and d.doc_id not in r_set]
    if kept_lowq:
        errors.append(f"{len(kept_lowq)} low-quality docs were kept "
                      f"(e.g. {kept_lowq[:3]})")
    over = [d.doc_id for d in inp.docs if d.doc_id in r_set
            and d.kind not in ("lowq", "exact")
            and passes_gopher_length_alpha(d.text)]
    if over:
        errors.append(f"{len(over)} docs that pass Gopher's length and "
                      f"alpha rules were removed (e.g. {over[:3]})")
    want = sum(n_tokens(t) for t in kept["text"])
    idx_total, bin_total = _megatron_total(f"{out}/megatron")
    if not want == idx_total == bin_total:
        errors.append(f"megatron tokens idx={idx_total} bin={bin_total} != "
                      f"kept docs' tokens {want}")
    counts = {"parsed": len(inp.docs), "kept": len(k_ids),
              "removed": len(r_ids), "tokens": want}
    digest = _digest(sorted(zip(k_ids, kept["text"])), sorted(r_ids), want)
    return errors, counts, digest


# ----------------------------------------------------------- dedup_mix

def run_dedup_mix(spark, tr, inp, out: str) -> dict:
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark import checkpointing
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import tokens_ws
    from metadata_enhanced_pretrain_datapipeline_spark.operators import (
        dedup, sampling)
    from metadata_enhanced_pretrain_datapipeline_spark.sources import (
        readers, writers)

    with tr.span("sources.readers", "read_parquet"):
        docs = tr.cut(readers.read_parquet(
            spark, inp.path, ["doc_id", "source", "quality", "text"]))
    with tr.span("operators.dedup", "dedup_exact_text"):
        exact = tr.cut(dedup.dedup_exact_text(docs))
    with tr.span("checkpointing", "materialize:exact"):
        # read by the pair search and by the keep-best anti-join
        exact = checkpointing.materialize(exact, eager=False)
    with tr.span("operators.dedup", "minhash_lsh_pairs"):
        pairs = tr.cut(dedup.minhash_lsh_pairs(
            exact, num_hashes=NUM_HASHES, bands=BANDS))
    with tr.span("checkpointing", "materialize:pairs"):
        pairs = checkpointing.materialize(pairs, eager=False)
    with tr.span("operators.dedup", "dedup_keep_best"):
        best = tr.cut(dedup.dedup_keep_best(exact, pairs, quality_col="quality"))
    with tr.span("functions.text", "tokens_ws"):
        counted = tr.cut(best.select(
            "doc_id", "source", "text",
            F.size(tokens_ws(F.col("text"))).alias("n_tokens")))
    with tr.span("checkpointing", "materialize:counted"):
        # the budget cap collects bucket offsets, then filters: two reads
        counted = checkpointing.materialize(counted, eager=False)
    with tr.span("operators.sampling", "token_budget_cap"):
        capped = tr.cut(sampling.token_budget_cap(
            counted, "source", F.col("n_tokens"), TOKEN_BUDGET, F.col("doc_id")))
    with tr.span("sources.writers", "write_parquet"):
        writers.write_parquet(capped, f"{out}/mix")
    return {"exact": exact, "pairs": pairs, "best": counted}


def _components(n_edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup_mix(inp, out: str, frames: dict) -> tuple[list[str], dict, str]:
    errors = []
    text_of = {d.doc_id: d.text for d in inp.docs}
    source_of = {d.doc_id: d.source for d in inp.docs}
    exact = {r[0] for r in frames["exact"].select("doc_id").collect()}
    pairs = [(r[0], r[1]) for r in frames["pairs"].select("id_a", "id_b").collect()]
    best = {r[0] for r in frames["best"].select("doc_id").collect()}
    mix = _read(f"{out}/mix", ["doc_id", "source", "text"])

    # exact dedup keeps exactly the smallest id of every normalized text
    first: dict[str, int] = {}
    for i in sorted(text_of):
        first.setdefault(norm_key(text_of[i]), i)
    if exact != set(first.values()):
        errors.append(f"exact dedup kept {len(exact)} docs, not the "
                      f"{len(first)} first docs of each normalized text")
    if any(not a < b or a not in exact or b not in exact for a, b in pairs):
        errors.append("candidate pairs are not ordered pairs of exact-dedup "
                      "survivors")
    if not best <= exact:
        errors.append("keep-best returned docs that exact dedup dropped")
    keys: dict[str, int] = {}
    for i in best:
        k = norm_key(text_of[i])
        if k in keys:
            errors.append(f"kept docs {keys[k]} and {i} share a normalized text")
            break
        keys[k] = i
    # clusters = exact-text groups joined by the LSH candidate pairs
    by_key: dict[str, int] = {}
    edges = list(pairs)
    for i, t in text_of.items():
        first = by_key.setdefault(norm_key(t), i)
        edges.append((first, i))
    comp = _components(edges)
    kept_comps = {comp.get(i, i) for i in best}
    orphans = [i for i in text_of if i not in best
               and comp.get(i, i) not in kept_comps]
    if orphans:
        errors.append(f"{len(orphans)} dropped docs have no kept cluster "
                      f"mate (e.g. {orphans[:3]})")
    per_source: dict[str, int] = {}
    for i, s, t in zip(mix["doc_id"], mix["source"], mix["text"]):
        if i not in best:
            errors.append(f"mix doc {i} was not kept by dedup")
            break
        per_source[s] = per_source.get(s, 0) + n_tokens(t)
    over = {s: v for s, v in per_source.items() if v > TOKEN_BUDGET}
    if over:
        errors.append(f"sources over the token budget: {over}")
    # the cap keeps a prefix of each source while the running sum fits:
    # a source that fits keeps everything, one that does not stops
    # within one doc of the budget
    for s in sorted(set(source_of.values())):
        sizes = [n_tokens(text_of[i]) for i in best if source_of[i] == s]
        got = per_source.get(s, 0)
        if sum(sizes) <= TOKEN_BUDGET and got != sum(sizes):
            errors.append(f"source {s} fits the budget ({sum(sizes)} tokens) "
                          f"but kept {got}")
        elif sum(sizes) > TOKEN_BUDGET and got <= TOKEN_BUDGET - max(sizes):
            errors.append(f"source {s} kept {got} tokens, more than one "
                          "doc short of the budget")
    counts = {"input": len(text_of), "exact": len(exact),
              "pairs": len(pairs), "kept": len(best),
              "mix": len(mix["doc_id"]), **{f"tokens.{s}": v
                                            for s, v in sorted(per_source.items())}}
    digest = _digest(sorted(best), sorted(mix["doc_id"]), sorted(per_source.items()))
    return errors, counts, digest


# ----------------------------------------------------------- lifecycle

VEC_SCHEMA = "vec_id long, embedding array<float>"


def run_lifecycle(spark, tr, inp, out: str) -> dict:
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.operators import (
        dedup, similarity)
    from metadata_enhanced_pretrain_datapipeline_spark.sources import (
        readers, writers)
    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events

    cents = inp.centroids

    def vectors(df):
        return df.select(F.col("doc_id").alias("vec_id"), "embedding")

    with tr.span("sources.readers", "read_parquet:month0"):
        m0 = tr.cut(readers.read_parquet(spark, f"{inp.path}/month=0"))
    with tr.span("operators.dedup", "minhash_band_keys"):
        bands0 = tr.cut(dedup.minhash_band_keys(
            dedup.minhash_signatures(m0.select("doc_id", "text"),
                                     num_hashes=NUM_HASHES),
            num_hashes=NUM_HASHES, bands=BANDS))
    with tr.span("operators.dedup", "write_band_store"):
        dedup.write_band_store(bands0, f"{out}/bands/m0")
    with tr.span("operators.similarity", "write_ivf_quantized_store"):
        similarity.write_ivf_quantized_store(vectors(m0), f"{out}/ivf/m0", cents)
    store = f"{out}/bands/m0"
    src, stream_store, ck = f"{out}/vec_src", f"{out}/ivf_stream", f"{out}/ck"
    for m in range(1, len(inp.months)):
        with tr.span("sources.readers", f"read_parquet:month{m}"):
            new = tr.cut(readers.read_parquet(spark, f"{inp.path}/month={m}"))
        with tr.span("operators.dedup", "minhash_dedup_against_bands"):
            kept, kept_bands = dedup.minhash_dedup_against_bands(
                new, dedup.read_band_store(spark, store),
                num_hashes=NUM_HASHES, bands=BANDS)
            kept, kept_bands = tr.cut(kept), tr.cut(kept_bands)
        with tr.span("operators.dedup", "write_band_store"):
            dedup.write_band_store(kept_bands, f"{out}/bands/m{m}")
        with tr.span("operators.dedup", "compact_band_store"):
            dedup.compact_band_store(spark, [store, f"{out}/bands/m{m}"],
                                     f"{out}/bands/c{m}")
        store = f"{out}/bands/c{m}"
        with tr.span("sources.writers", "write_parquet:vectors"):
            # one file per month: each month is one micro-batch below
            writers.write_parquet(vectors(kept).repartition(1), f"{src}/month={m}")
    with tr.span("streaming.events", "stream_append_ivf_quantized_store"):
        stream = (spark.readStream.schema(VEC_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .option("recursiveFileLookup", "true").parquet(src))
        events.stream_append_ivf_quantized_store(stream, stream_store, cents, ck)
    ivf = f"{out}/ivf/final"
    with tr.span("operators.similarity", "compact_ivf_quantized_store"):
        similarity.compact_ivf_quantized_store(
            spark, [f"{out}/ivf/m0", stream_store], ivf)
    with tr.span("sources.readers", "read_parquet:ivf"):
        final = readers.read_parquet(spark, ivf)
    probes = []
    for q in inp.queries:
        with tr.span("operators.similarity", "ivf_quantized_topk"):
            rows = similarity.ivf_quantized_topk(final, cents, q, k=TOPK,
                                                 nprobe=NPROBE).collect()
        probes.append([r["vec_id"] for r in rows])
    return {"probes": probes, "months": len(inp.months)}


def _band_rows(path: str) -> set[tuple[int, int, int]]:
    t = _read(path, ["doc_id", "band", "key"])
    return set(zip(t["doc_id"], (int(b) for b in t["band"]), t["key"]))


def check_lifecycle(inp, out: str, frames: dict) -> tuple[list[str], dict, str]:
    errors = []
    prior = _band_rows(f"{out}/bands/m0")
    kept_ids = {d.doc_id for d in inp.months[0]}
    kept_total = 0
    for m in range(1, frames["months"]):
        month = _band_rows(f"{out}/bands/m{m}")
        compacted = _band_rows(f"{out}/bands/c{m}")
        survivors = {r[0] for r in month}
        kept_total += len(survivors)
        kept_ids |= survivors
        # a same-text re-crawl has the band keys of a page in the store
        missed = [d.doc_id for d in inp.months[m]
                  if d.kind == "recrawl" and d.doc_id in survivors]
        if missed:
            errors.append(f"month {m}: {len(missed)} same-text re-crawls "
                          f"survived the store probe (e.g. {missed[:3]})")
        clash = {r[1:] for r in month} & {r[1:] for r in prior}
        if clash:
            errors.append(f"month {m}: {len(clash)} survivor band keys are "
                          "already in the prior store")
        if compacted != prior | month:
            errors.append(f"month {m}: compacted store != distinct union "
                          f"({len(compacted)} vs {len(prior | month)} rows)")
        prior = compacted
    ids = _read(f"{out}/ivf/final", ["vec_id"])["vec_id"]
    if len(ids) != len(set(ids)):
        errors.append("final vector store holds duplicate ids")
    store_ids = set(ids)
    if store_ids != kept_ids:
        errors.append(f"final vector store holds {len(store_ids)} ids, not "
                      f"the {len(kept_ids)} of month 0 and the survivors")
    for q, got in enumerate(frames["probes"]):
        if len(got) != TOPK or not set(got) <= store_ids:
            errors.append(f"probe {q} returned {len(got)} ids, "
                          f"{len(set(got) - store_ids)} not in the store")
    probed = sum(len(m) for m in inp.months[1:])
    counts = {"probed": probed, "kept": kept_total, "band_rows": len(prior),
              "vectors": len(store_ids)}
    digest = _digest(sorted(prior), sorted(store_ids), frames["probes"])
    return errors, counts, digest


#: stage -> (pipeline, output check); each stage has its own input
STAGES = {
    "curate": (run_curate, check_curate),
    "dedup_mix": (run_dedup_mix, check_dedup_mix),
    "lifecycle": (run_lifecycle, check_lifecycle),
}
#: workload -> the stages one pass runs, in order
WORKLOADS = {
    "snapshot_build": ("curate", "dedup_mix"),
    "lifecycle": ("lifecycle",),
}
