"""The three workloads. Each one drives the engine through its command
line entry point (``petasearch_spark.cli.main``) in this process, checks
every operation's output, and has a traced twin of its operation that
calls the layers' public functions one by one, materialising each
layer's output inside its own span.

Why these three (README.md has the longer note):

* ``search``  — batch ``searchindex`` against a range index with the
  reference defaults: the prefilter join and the alignment kernel do
  most of the work.
* ``probe``   — one-query exact-k-mer ``searchindex`` against a sharded
  layout: fixed per-job cost, pruned reads and the candidate collect
  dominate; expansion does nothing.
* ``curate``  — the ``curate`` CLI over a JSONL dump: no sequence layer
  runs; many small jobs plus the text kernels, and write-heavy.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import shutil

import gen

MAX_EVALUE = 1000.0  # the CLI's reference default, checked on every row
K = 9

#: sizes per scale; "full" is what BENCHMARK.json runs, "tiny" is the
#: smoke test's
SIZES = {
    "full": {
        "search": {"db": 500, "len": (150, 350), "queries": 8, "shards": 0},
        "probe": {"db": 500, "len": (150, 350), "queries": 1, "shards": 16},
        "curate": {"docs": 1500},
    },
    "tiny": {
        "search": {"db": 60, "len": (60, 120), "queries": 4, "shards": 0},
        "probe": {"db": 60, "len": (60, 120), "queries": 1, "shards": 4},
        "curate": {"docs": 120},
    },
}


def cli(argv: list[str]) -> str:
    """Run one CLI command; returns what it printed (its JSON line)."""
    from petasearch_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"{argv[0]} exited {rc}")
    return buf.getvalue()


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )


class CheckFailed(Exception):
    pass


# --- sequence workloads -----------------------------------------------------


class _Sequence:
    items = "queries"

    def __init__(self, seed: int, size: dict, work: str):
        self.seed, self.size, self.work = seed, size, work
        lo, hi = size["len"]
        self.db = gen.protein_db(seed, size["db"], lo, hi)
        self.db_fasta = os.path.join(work, "db.fa")
        gen.write_fasta(self.db_fasta, gen.db_records(self.db))
        self.residues = sum(len(s) for s in self.db)
        self.index = os.path.join(work, "index")

    def items_per_op(self) -> int:
        return self.size["queries"]

    def make_batch(self, j: int) -> dict:
        records, planted = self._records(j)
        path = os.path.join(self.work, f"q{j}.fa")
        gen.write_fasta(path, records)
        return {"j": j, "input": path, "order": [a for a, _ in records],
                "planted": planted, "out": os.path.join(self.work, f"m8_{j}")}

    def check(self, batch: dict) -> str:
        """O6 order, e-value cutoff and planted hits; returns the digest."""
        digest, rows = hashlib.sha256(), []
        for part in _part_files(batch["out"]):
            with open(part, "rb") as f:
                data = f.read()
            digest.update(data)
            rows += [ln.split("\t") for ln in data.decode().splitlines() if ln]
        rank = {acc: i for i, acc in enumerate(batch["order"])}
        seen, last_q, last_e = set(), -1, 0.0
        for r in rows:
            qi, e = rank.get(r[0]), float(r[10])
            if qi is None:
                raise CheckFailed(f"unknown query {r[0]}")
            if e > MAX_EVALUE:
                raise CheckFailed(f"evalue {e} above cutoff")
            if qi != last_q:
                if qi < last_q or qi in seen:
                    raise CheckFailed("query blocks out of O6 order")
                seen.add(qi)
                last_q, last_e = qi, e
            elif e < last_e:
                raise CheckFailed(f"evalues of {r[0]} not ascending")
            last_e = e
        hits = {(r[0], r[1]) for r in rows}
        missed = [q for q, t in batch["planted"].items() if (q, t) not in hits]
        if missed:
            raise CheckFailed(f"planted homologs missed: {missed}")
        return digest.hexdigest()

    def cleanup(self, batch: dict) -> None:
        shutil.rmtree(batch["out"], ignore_errors=True)
        os.remove(batch["input"])

    # -- set-up --

    def build(self) -> dict:
        cli(["createindex", self.db_fasta, self.index, *self._layout_args()])
        return {}

    def traced_build(self, spark, tracer) -> dict:
        from petasearch_spark.operators.kmer_index import extract_kmers_arrow
        from petasearch_spark.sources.targetlist import load_target

        seqs = load_target(spark, self.db_fasta)
        with tracer.span("kmer_index.build") as sp:
            self._write_index(seqs, self.index)
        with tracer.span("kmer_index.count"):
            kmer_rows = extract_kmers_arrow(seqs, k=K).count()
            index_rows = spark.read.parquet(self._index_data(self.index)).count()
        index_bytes = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.index) for f in fs
        )
        return {
            "build_s": sp["end"] - sp["start"],
            "shuffle_write_mb": sp["shuffle_write_mb"],
            "kmer_rows": kmer_rows,
            "index_rows": index_rows,
            "bytes_per_residue": index_bytes / self.residues,
        }


class Search(_Sequence):
    def _records(self, j: int):
        lo, hi = self.size["len"]
        return gen.query_batch(self.seed, j, self.db, self.size["queries"], lo, hi)

    def _layout_args(self) -> list[str]:
        return []

    def _write_index(self, seqs, path: str) -> None:
        from petasearch_spark.operators.kmer_index import build_kmer_index, write_kmer_index

        write_kmer_index(build_kmer_index(seqs, k=K), path)

    def _index_data(self, path: str) -> str:
        return path

    def op(self, batch: dict) -> None:
        cli(["searchindex", batch["input"], self.index, self.db_fasta, batch["out"]])

    def traced_op(self, spark, tracer, batch: dict) -> dict:
        """``search()`` with the range index, one span per layer."""
        from pyspark.sql import functions as F

        from petasearch_spark.functions.ordering import sort_via_exchange
        from petasearch_spark.operators.align import align_pairs
        from petasearch_spark.operators.kmer_index import extract_query_kmers
        from petasearch_spark.operators.masking import mask_sequences
        from petasearch_spark.operators.prefilter import prefilter_grouped
        from petasearch_spark.operators.similar_kmers import expand_query_kmers
        from petasearch_spark.sources.m8 import write_m8
        from petasearch_spark.sources.targetlist import load_target

        queries = load_target(spark, batch["input"])
        targets = load_target(spark, self.db_fasta)
        held, c = [], {}
        with tracer.span("masking.mask"):
            masked = _held(held, mask_sequences(queries))
        with tracer.span("query_kmers"):
            with tracer.span("kmer_index.extract"):
                exact = _held(held, extract_query_kmers(masked, k=K))
            with tracer.span("similar_kmers.expand"):
                qk = _held(held, expand_query_kmers(exact, k=K))
        c["exact_kmers"], c["expanded_kmers"] = exact.count(), qk.count()
        with tracer.span("kmer_index.read"):
            index = _held(held, spark.read.parquet(self.index))
        with tracer.span("prefilter.join"):
            pairs = _held(held, prefilter_grouped(qk, index))
        _prefilter_counters(tracer, c, qk, index, pairs)
        with tracer.span("align.kernel"):
            aln = _held(held, align_pairs(pairs, queries, targets, k=K, max_evalue=MAX_EVALUE))
            c["passed"] = aln.count()
        with tracer.span("ordering.sort"):
            ordered = _held(held, sort_via_exchange(
                aln, "query_id", "evalue", F.desc("bits"), "tlen", "target_id"))
        with tracer.span("sources.m8_write"):
            write_m8(ordered, batch["out"])
        for df in held:
            df.unpersist()
        return c


class Probe(_Sequence):
    def _records(self, j: int):
        return gen.probe_query(self.seed, j, self.db)

    def _layout_args(self) -> list[str]:
        return ["--layout", "sharded", "--num-shards", str(self.size["shards"])]

    def _write_index(self, seqs, path: str) -> None:
        from petasearch_spark.operators.kmer_index import write_sharded_layout

        write_sharded_layout(seqs, path, num_shards=self.size["shards"], k=K)

    def _index_data(self, path: str) -> str:
        return os.path.join(path, "index")

    def op(self, batch: dict) -> None:
        cli(["searchindex", batch["input"], self.index, batch["out"],
             "--exact-kmer-matching", "1"])

    def traced_op(self, spark, tracer, batch: dict) -> dict:
        """``search_sharded_layout()`` with exact k-mers, one span per layer."""
        from pyspark.sql import functions as F

        from petasearch_spark.functions.ordering import sort_via_exchange
        from petasearch_spark.operators.align import align_pairs
        from petasearch_spark.operators.kmer_index import (
            extract_query_kmers,
            list_layout_generations,
            read_kmer_index_meta,
            read_layout_index_pruned,
            read_layout_store_pruned,
        )
        from petasearch_spark.operators.masking import mask_sequences
        from petasearch_spark.operators.prefilter import prefilter_grouped
        from petasearch_spark.sources.m8 import write_m8
        from petasearch_spark.sources.targetlist import load_target

        queries = load_target(spark, batch["input"])
        held, c = [], {}
        with tracer.span("masking.mask"):
            masked = _held(held, mask_sequences(queries))
        with tracer.span("query_kmers"):
            with tracer.span("kmer_index.extract"):
                qk = _held(held, extract_query_kmers(masked, k=K))
        c["exact_kmers"] = c["expanded_kmers"] = qk.count()
        with tracer.span("kmer_index.read"):
            gens = list_layout_generations(self.index)
            meta = read_kmer_index_meta(spark, os.path.join(self.index, "index"))
            index = _held(held, read_layout_index_pruned(spark, self.index, qk, idx_meta=meta, gens=gens))
        with tracer.span("prefilter.join"):
            pairs = _held(held, prefilter_grouped(qk, index))
        _prefilter_counters(tracer, c, qk, index, pairs)
        with tracer.span("kmer_index.read"):
            ids = [int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()]
            targets, db_residues = read_layout_store_pruned(spark, self.index, ids, gens=gens)
            targets = _held(held, targets)
        with tracer.span("align.kernel"):
            aln = _held(held, align_pairs(
                pairs, queries, targets, k=K, max_evalue=MAX_EVALUE,
                db_residues=db_residues or 1, kernel_parts=len(ids)))
            c["passed"] = aln.count()
        with tracer.span("ordering.sort"):
            ordered = _held(held, sort_via_exchange(
                aln, "query_id", "evalue", F.desc("bits"), "tlen", "target_id"))
        with tracer.span("sources.m8_write"):
            write_m8(ordered, batch["out"])
        for df in held:
            df.unpersist()
        return c


def _prefilter_counters(tracer, c: dict, qk, index, pairs) -> None:
    """Funnel counts after the prefilter, in a span of their own."""
    with tracer.span("prefilter.counters"):
        c["pairs"] = pairs.count()
        c["candidates"] = pairs.select("target_id").distinct().count()
        c["equal_kmers"] = qk.join(index, "kmer").count()


def _held(held: list, df):
    """Persist and materialise ``df`` so its span owns its compute."""
    df = df.persist()
    df.count()
    held.append(df)
    return df


# --- curate -----------------------------------------------------------------


class Curate:
    items = "docs"

    def __init__(self, seed: int, size: dict, work: str):
        self.seed, self.size, self.work = seed, size, work

    def items_per_op(self) -> int:
        return self.size["docs"]

    def build(self) -> dict:  # nothing to build: set-up is session + warm-up
        return {}

    def traced_build(self, spark, tracer) -> dict:
        return {}

    def make_batch(self, j: int) -> dict:
        lines, planted = gen.jsonl_batch(self.seed, j, self.size["docs"])
        path = os.path.join(self.work, f"dump{j}.jsonl")
        gen.write_lines(path, lines)
        return {"j": j, "input": path, "lines": len(lines), "planted": planted,
                "out": os.path.join(self.work, f"curate_{j}")}

    def op(self, batch: dict) -> None:
        batch["report"] = json.loads(cli(["curate", batch["input"], batch["out"]]))

    def check(self, batch: dict) -> str:
        import pyarrow.parquet as pq

        from petasearch_spark.operators.corpus import CTX_LEN

        r = batch["report"]
        want = {
            "input lines": (r["n_quarantined"] + r["n_dropped_null_fields"] + r["n_staged"], batch["lines"]),
            "quarantined": (r["n_quarantined"], batch["planted"]["malformed"]),
            "dropped": (r["n_dropped_null_fields"], batch["planted"]["null_fields"]),
            "kept": (r["n_kept"], r["funnel"]["kept"]),
            "funnel rows": (r["funnel"]["n_docs"], r["n_staged"]),
            "packs": (r["n_packs"], math.ceil(r["kept_tokens"] / CTX_LEN)),
        }
        curated = pq.read_table(os.path.join(batch["out"], "curated", "documents.parquet"),
                                columns=["doc_id"]).column("doc_id").to_pylist()
        want["curated rows"] = (len(curated), r["n_kept"])
        bad = {k: v for k, v in want.items() if v[0] != v[1]}
        if bad:
            raise CheckFailed(f"curate accounting: {bad}")
        if not 0 < r["n_kept"] < r["n_staged"]:
            raise CheckFailed(f"degenerate funnel: kept {r['n_kept']} of {r['n_staged']}")
        counts = {k: v for k, v in r.items() if k not in ("input", "out_dir")}
        body = json.dumps(counts, sort_keys=True) + repr(sorted(curated))
        return hashlib.sha256(body.encode()).hexdigest()

    def cleanup(self, batch: dict) -> None:
        shutil.rmtree(batch["out"], ignore_errors=True)
        os.remove(batch["input"])

    def traced_op(self, spark, tracer, batch: dict) -> dict:
        """The ``curate`` CLI's stages (no resume), one span per layer.
        quality, near-dup and decontamination are also materialised on
        their own before the funnel recomputes them inside its plan."""
        from pyspark.sql import functions as F

        from petasearch_spark.operators.corpus import (
            CTX_LEN,
            corpus_curation_funnel,
            decontaminate_ngram_overlap,
            sequence_packing,
        )
        from petasearch_spark.operators.dedup import dedup_minhash_lsh
        from petasearch_spark.operators.quality import gopher_quality
        from petasearch_spark.sources.jsonl import read_jsonl_docs, split_malformed, write_documents

        out = batch["out"]
        staging, curated = os.path.join(out, "staging"), os.path.join(out, "curated")
        staging_docs = os.path.join(staging, "documents.parquet")
        r, c = {}, {}
        with tracer.span("sources.jsonl_parse"):
            parsed = read_jsonl_docs(spark, batch["input"])
            acct = parsed.agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("_malformed").isNotNull().cast("long")).alias("n_bad"),
            ).collect()[0]
            r["n_quarantined"] = int(acct["n_bad"] or 0)
            n_parsed = int(acct["n_lines"]) - r["n_quarantined"]
            docs, _ = split_malformed(parsed)
        with tracer.span("sources.staging_write"):
            write_documents(
                docs.filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
                .select("doc_id", "text", "lang", "source", "n_chars"),
                staging_docs,
            )
            r["n_staged"] = spark.read.parquet(staging_docs).count()
            r["n_dropped_null_fields"] = n_parsed - r["n_staged"]
        with tracer.span("quality.gopher"):
            gopher_quality(spark, staging).count()
        with tracer.span("dedup.minhash"):
            c["near_dup_pairs"] = dedup_minhash_lsh(spark, staging).count()
        with tracer.span("corpus.decontam"):
            decontaminate_ngram_overlap(spark, staging).count()
        funnel_path = os.path.join(out, "funnel.parquet")
        with tracer.span("corpus.funnel"):
            corpus_curation_funnel(spark, staging).write.mode("overwrite") \
                .option("compression", "zstd").parquet(funnel_path)
            fun = spark.read.parquet(funnel_path)
            counts = fun.agg(
                F.count(F.lit(1)).alias("n_docs"),
                *[F.sum(F.col(k).cast("long")).alias(k) for k in
                  ["is_eval", "quality_keep", "exact_dup", "near_dup", "contaminated", "sampled", "kept"]],
            ).collect()[0]
            r["funnel"] = {k: int(counts[k] or 0) for k in counts.asDict()}
        with tracer.span("corpus.curated_write"):
            staged = spark.read.parquet(staging_docs)
            write_documents(staged.join(fun.filter("kept").select("doc_id"), "doc_id"),
                            os.path.join(curated, "documents.parquet"))
            r["n_kept"] = spark.read.parquet(os.path.join(curated, "documents.parquet")).count()
        packs_path = os.path.join(out, "packs.parquet")
        with tracer.span("corpus.pack"):
            sequence_packing(spark, curated).write.mode("overwrite") \
                .option("compression", "zstd").parquet(packs_path)
            pk = spark.read.parquet(packs_path).agg(
                F.count(F.lit(1)).alias("n_packs"), F.sum("fill_tokens").alias("kept_tokens")
            ).collect()[0]
            r["kept_tokens"] = int(pk["kept_tokens"] or 0)
            r["ctx_len"] = CTX_LEN
            r["n_packs"] = int(pk["n_packs"] or 0)
        batch["report"] = r
        c["kept_frac"] = r["n_kept"] / r["n_staged"]
        return c


WORKLOADS = {"search": Search, "probe": Probe, "curate": Curate}
