"""End-to-end search pipeline — the Spark equivalent of the reference's
`petasearch` workflow (E2 in SURVEY §3; /root/reference/data/petasearch.sh).

Where the reference crosses a process+file boundary per stage
(comparekmertables -> blockalign -> convertsraalis -> cat), here every stage
is one lazily-composed DataFrame lineage: Catalyst fuses the projections,
pushes filters into the parquet scans, and the only materialization points
are the prefilter shuffle and the Arrow hop into the alignment kernel.

ONE cascade (`_cascade`): query k-mers -> `prefilter_grouped` ->
`align_pairs` -> O6 ordering, driven by ONE validated option set
(`SearchParams`). The public entry points are thin adapters that supply
only where the k-mer index comes from and how target sequences are
fetched: an in-memory or stored index (`search`), a pruned read of the
sharded layout (`search_sharded_layout`), or a ``_set``-tagged union of
several target DBs (`search_multi_target`, J5 — petasearch.sh:42-65 runs
one shell job per DB and concatenates; here the per-DB relations are one
plan keyed by the tag). `funnel_report` counts over the same cascade.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from petasearch_spark.functions.ordering import sort_via_exchange
from petasearch_spark.operators.align import DEFAULT_EVALUE, align_pairs
from petasearch_spark.operators.kmer_index import (
    DEFAULT_K,
    build_kmer_index,
    extract_query_kmers,
)
from petasearch_spark.operators.prefilter import (
    DEFAULT_REQ_KMER_MATCHES,
    prefilter_grouped,
)


@dataclass(frozen=True)
class SearchParams:
    """Every option of the search cascade, in ONE place: each entry point
    builds ``SearchParams(**options)``, so a misspelled or foreign option
    raises ``TypeError`` instead of being silently dropped.

    ``expand_similar=True`` turns on T2 similar-k-mer expansion (the
    reference's default sensitivity mode, --exact-kmer-matching 0);
    False is the reference's exact mode (comparekmertables.cpp:263).
    ``kmer_threshold``/``kmer_max_per_pos`` None = the reference defaults
    (--k-score 225, --max-kmer-per-pos 20); ``compo_bias`` raises the
    threshold in biased regions (T4, comparekmertables.cpp:196-253).
    ``mask=True`` runs T3 low-complexity masking over the QUERY sequences
    before k-mer extraction (--mask 1, comparekmertables.cpp:214-231);
    alignment still uses the unmasked residues, as in the reference.
    ``xdrop`` None keeps full banded Gotoh — the engine's written
    divergence decision (operators/align.py DEFAULT_XDROP note); pass
    align.DEFAULT_XDROP for the reference's frontier termination.
    ``max_seqs`` is the per-query top-k engine extra (absent in the
    reference, blockalign.cpp:411-414).

    The alphabet decision lives here too — the reference's dbtype branch
    (comparekmertables.cpp:129-143): amino (BLOSUM62, 11/1 gaps) or
    nucleotide (+2/-3 match/mismatch, ACGT codes, N invalid)."""

    k: int = DEFAULT_K
    req_kmer_matches: int = DEFAULT_REQ_KMER_MATCHES
    max_evalue: float = DEFAULT_EVALUE
    expand_similar: bool = False
    kmer_threshold: int | None = None
    kmer_max_per_pos: int | None = None
    mask: bool = False
    compo_bias: bool = False
    alphabet: str = "amino"
    max_seqs: int | None = None
    xdrop: int | None = None

    def __post_init__(self):
        if self.alphabet not in ("amino", "nucl"):
            raise ValueError(
                f"alphabet must be 'amino' or 'nucl', not {self.alphabet!r}"
            )

    @property
    def codes(self) -> str:
        """The residue alphabet the k-mer codes are built over."""
        if self.alphabet == "nucl":
            from petasearch_spark.functions.scoring import NUCL_ALPHABET

            return NUCL_ALPHABET
        from petasearch_spark.functions.kmer import AMINO_ALPHABET

        return AMINO_ALPHABET

    @property
    def scoring(self) -> dict:
        """align_pairs' matrix and Karlin-Altschul keyword arguments."""
        from petasearch_spark.functions import scoring as s

        if self.alphabet == "nucl":
            return dict(matrix=s.NUCL_MATRIX, ka_ungapped=s.KA_NUCL_UNGAPPED,
                        ka_gapped=s.KA_NUCL_GAPPED)
        return dict(matrix=s.BLOSUM62, ka_ungapped=s.KA_UNGAPPED,
                    ka_gapped=s.KA_GAPPED_11_1)

    @property
    def expands(self) -> bool:
        """Whether the query k-mers get T2 expansion. Reference parity
        (nucl): nucleotide mode scores with NucleotideMatrix at scale 1.0
        (comparekmertables.cpp:135), where the k-score default 225
        exceeds any 9-mer self-score (9×2=18) — generateKmerList can
        never emit, so expansion degenerates to exact matching."""
        return self.expand_similar and self.alphabet != "nucl"


def build_query_kmers(queries: DataFrame, p: SearchParams) -> DataFrame:
    """The query-side k-mer table of the cascade: masking -> extraction
    -> optional T2/T4 expansion."""
    if p.mask:
        from petasearch_spark.operators.masking import mask_sequences

        qk = extract_query_kmers(mask_sequences(queries), k=p.k, alphabet=p.codes)
    else:
        qk = extract_query_kmers(queries, k=p.k, alphabet=p.codes)
    if p.expands:
        from petasearch_spark.operators.similar_kmers import (
            DEFAULT_KMER_THRESHOLD,
            DEFAULT_MAX_PER_POS,
            composition_bias_kmer,
            expand_query_kmers,
        )

        qk = expand_query_kmers(
            qk,
            k=p.k,
            threshold=p.kmer_threshold if p.kmer_threshold is not None else DEFAULT_KMER_THRESHOLD,
            max_per_pos=p.kmer_max_per_pos if p.kmer_max_per_pos is not None else DEFAULT_MAX_PER_POS,
            bias=composition_bias_kmer(queries, k=p.k) if p.compo_bias else None,
        )
    return qk


def _rank_and_order(alignments: DataFrame, max_seqs: int | None) -> DataFrame:
    """O6 global ordering, with the optional per-query top-k engine
    extra (absent in the reference, blockalign.cpp:411-414) applied over
    the same ordering."""
    if max_seqs is not None:
        w = Window.partitionBy("query_id").orderBy(
            "evalue", F.desc("bits"), "tlen", "target_id"
        )
        alignments = (
            alignments.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_seqs)
            .drop("_rk")
        )
        # the window's hash exchange already decouples the final sort's
        # RangePartitioner sampling from the kernel — plain orderBy is fine
        return alignments.orderBy(
            "query_id", "evalue", F.desc("bits"), "tlen", "target_id"
        )
    # no window: a bare orderBy here would put the range exchange DIRECTLY
    # above the alignment kernel, and the RangePartitioner sampling job
    # re-executes the kernel (round 11, functions/ordering.py) — sort via
    # an interposed hash exchange instead. The O6 spec is a total order
    # (target_id is unique per query), so the result is bit-identical.
    return sort_via_exchange(
        alignments, "query_id", "evalue", F.desc("bits"), "tlen", "target_id"
    )


class _Cascade(NamedTuple):
    query_kmers: DataFrame
    index: DataFrame
    pairs: DataFrame  # prefilter_grouped output: one row per surviving pair
    hits: DataFrame  # alignments, O6-ordered (and max_seqs-capped)


def _cascade(
    queries: DataFrame,
    p: SearchParams,
    index_for: Callable[[DataFrame], DataFrame],
    fetch: Callable[[DataFrame], tuple[DataFrame, DataFrame, dict]],
    extra_keys: tuple[str, ...] = (),
    persisted: list | None = None,
) -> _Cascade:
    """The search cascade every entry point runs. ``index_for(qk)``
    returns the target k-mer index to probe with the query k-mers;
    ``fetch(pairs)`` returns ``(pairs, targets, align_kwargs)`` — the
    (possibly annotated) grouped pairs, the target sequences to align
    against, and the e-value/kernel-width options of that source.
    ``extra_keys`` are index-side grouping columns (the multi-target
    ``_set`` tag). With ``persisted`` given, the query k-mers (read more
    than once by the pruned and multi-target sources) are persisted and
    appended there."""
    qk = build_query_kmers(queries, p)
    if persisted is not None:
        qk = qk.persist()
        persisted.append(qk)
    index = index_for(qk)
    # fused prefilter+collection (round 11): the aligner consumes per-pair
    # k-mer LISTS, so the HAVING count and the list collection run as ONE
    # aggregation — no member-row count window (a full sort of every
    # joined match row) in the cascade
    pairs = prefilter_grouped(
        qk, index, req_kmer_matches=p.req_kmer_matches, extra_keys=extra_keys
    )
    kernel_pairs, targets, align_kwargs = fetch(pairs)
    alignments = align_pairs(
        kernel_pairs, queries, targets, k=p.k, max_evalue=p.max_evalue,
        alphabet=p.codes, xdrop=p.xdrop, **p.scoring, **align_kwargs,
    )
    return _Cascade(qk, index, pairs, _rank_and_order(alignments, p.max_seqs))


def _inline_cascade(
    queries: DataFrame, targets: DataFrame, target_index: DataFrame | None,
    p: SearchParams,
) -> _Cascade:
    """The cascade over an in-memory target set: probe ``target_index``,
    or an index built from ``targets``; e-values over all of ``targets``."""
    def index_for(_qk: DataFrame) -> DataFrame:
        if target_index is not None:
            return target_index
        return build_kmer_index(targets, k=p.k, alphabet=p.codes)

    return _cascade(queries, p, index_for, lambda pairs: (pairs, targets, {}))


def search(
    queries: DataFrame,
    targets: DataFrame,
    target_index: DataFrame | None = None,
    **options,
) -> DataFrame:
    """queries/targets: sequences(seq_id, accession, header, sequence).
    ``target_index``: a stored k-mer index over ``targets`` (O1 layout)
    to probe instead of building one; ``options``: `SearchParams`.

    Returns the alignments DataFrame (FIXTURES.md §1), sorted query-keyed
    by (evalue ASC, bits DESC, tlen ASC, target_id ASC) — the reference's
    O6 ordering (matcherResultsSort, blockalign.cpp:534-550) made *global*
    instead of per-thread (SURVEY §2.6 notes ours is strictly better).
    """
    return _inline_cascade(queries, targets, target_index, SearchParams(**options)).hits


def search_sharded_layout(
    queries: DataFrame,
    layout_root: str,
    *,
    persisted: list | None = None,
    **options,
) -> DataFrame:
    """The full cascade against an on-disk SHARDED interactive layout
    (``<root>/index`` kmer shards + ``<root>/seqs`` sequence store,
    round 10): every corpus-sized input is pruned to the query — the
    index scan by the query's k-mer shards, the J4 sequence fetch by the
    prefilter's candidate ids, and the e-value normalization reads the
    store sidecar's corpus-total ``db_residues`` instead of scanning
    anything. Semantics and output are ``search()``'s exactly (same
    options, same ordering); only the I/O shape differs — 1M-scale record
    in BASELINE.md round 10. The query k-mers and the grouped pairs are
    persisted (each feeds a driver collect AND the cascade); both go to
    ``persisted`` when given (the streaming flat-cache contract)."""
    import os

    from petasearch_spark.operators.kmer_index import (
        list_layout_generations,
        read_kmer_index_meta,
        read_layout_index_pruned,
        read_layout_store_pruned,
    )

    p = SearchParams(**options)
    spark = queries.sparkSession
    held = [] if persisted is None else persisted
    # delta generations (append_sharded_layout): base first, fold order —
    # probes resolve the J2 rule over the pruned union, so a grown layout
    # answers exactly like a full rebuild (tests/test_sharded_delta.py)
    gens = list_layout_generations(layout_root)
    # ONE sidecar read per dataset per probe (round-10 review finding):
    # the index meta also validates build parameters — a probe with a
    # different k or alphabet would join on incompatible kmer codes and
    # return EMPTY results with exit 0, so refuse loudly instead
    # (layouts written before round 10 carry no k/alphabet: no check)
    idx_meta = read_kmer_index_meta(spark, os.path.join(layout_root, "index"))
    if idx_meta["k"] is not None and int(idx_meta["k"]) != p.k:
        raise ValueError(
            f"sharded layout at {layout_root} was built with k={idx_meta['k']}"
            f" but the probe asked k={p.k} — rebuild the layout or match --k"
        )
    if idx_meta["alphabet"] is not None and idx_meta["alphabet"] != p.codes:
        raise ValueError(
            f"sharded layout at {layout_root} was built with alphabet"
            f" {idx_meta['alphabet']!r} but the probe asked {p.codes!r} —"
            f" rebuild the layout or match --alphabet"
        )

    def index_for(qk: DataFrame) -> DataFrame:
        return read_layout_index_pruned(spark, layout_root, qk, idx_meta=idx_meta, gens=gens)

    def fetch(pairs: DataFrame):
        # grouped pairs make the candidate-id collect cheap — one row per
        # pair instead of per match row
        pairs = pairs.persist()
        held.append(pairs)
        candidate_ids = [
            int(r["target_id"]) for r in pairs.select("target_id").distinct().collect()
        ]
        targets, db_residues = read_layout_store_pruned(
            spark, layout_root, candidate_ids, gens=gens
        )
        # the kernel partitions by target_id, so |candidates| bounds its
        # useful width — interactive probes skip the mostly-empty wide
        # stage; large batches saturate to the default (align_pairs doc)
        return pairs, targets, dict(
            db_residues=db_residues or 1, kernel_parts=len(candidate_ids)
        )

    return _cascade(queries, p, index_for, fetch, persisted=held).hits


def search_multi_target(
    queries: DataFrame,
    target_sets: list[DataFrame],
    **options,
) -> DataFrame:
    """J5: search each target set, UNION ALL the results (§2.7) — the
    reference's per-DB shell-job fan-out + cat (petasearch.sh:42-65).

    FUSED plan (round 11, guide §2.4): where the reference runs one
    process per target DB, the per-DB relations here are ONE plan keyed
    by a ``_set`` tag:

    * the query-side k-mer table is built ONCE and persisted (pinned by
      tests/test_search_e2e.py);
    * per-set extraction unions into ONE J2 aggregation grouped by
      (kmer, _set) — exactly N per-set ``build_kmer_index`` relations
      in one exchange (operators.kmer_index.aggregate_kmer_index);
    * ONE prefilter join + grouped aggregation keyed by
      (query, target, _set) — the per-DB HAVING relation verbatim;
    * ONE alignment kernel stage; the Karlin-Altschul ``db_residues``
      differs per DB, so each per-set total rides the rows as a
      broadcast-joined column (align_pairs ``db_residues_col``) and the
      target fetch joins on (target_id, _set) — overlapping sets stay
      legal. E-values are bit-identical to the per-DB runs: same sums,
      same per-pair arithmetic.

    Result parity with N independent ``search`` calls is pinned by
    tests/test_search_e2e.py::test_multi_target_equals_per_target_union.
    Output ordering is the O6 global order.

    ``max_seqs`` here is GLOBAL: the per-query top-k runs ONCE over the
    UNION of all target sets (round-6; what a user of the flag means —
    "my k best hits anywhere"), not within each set. Capping per set
    would return up to ``len(target_sets) * max_seqs`` rows per query
    and, worse, a weak hit from a sparse DB would survive while a
    stronger hit ranked (max_seqs+1)-th in a dense DB was dropped."""
    from petasearch_spark.operators.kmer_index import (
        aggregate_kmer_index,
        extract_kmers_arrow,
    )

    p = SearchParams(**options)
    # project early (§2.3) — only the columns the cascade touches ride
    # the tagged union
    tagged = None
    tagged_kmers = None
    for i, t in enumerate(target_sets):
        ti = t.select("seq_id", "accession", "sequence").withColumn("_set", F.lit(i))
        ki = extract_kmers_arrow(t, k=p.k, alphabet=p.codes).withColumn("_set", F.lit(i))
        tagged = ti if tagged is None else tagged.unionByName(ti)
        tagged_kmers = ki if tagged_kmers is None else tagged_kmers.unionByName(ki)

    def fetch(pairs: DataFrame):
        # per-set Karlin-Altschul totals — same greatest(coalesce(sum,1),1)
        # law as align_pairs' lazy single-DB aggregate, one tiny broadcast
        dbrs = tagged.groupBy("_set").agg(
            F.greatest(
                F.coalesce(F.sum(F.length("sequence")), F.lit(1).cast("long")),
                F.lit(1).cast("long"),
            ).alias("_dbr")
        )
        return pairs.join(F.broadcast(dbrs), "_set"), tagged, dict(
            db_residues_col="_dbr", set_col="_set"
        )

    # persisted=[]: the query k-mers are persisted, and released by the
    # caller's clearCache
    return _cascade(
        queries, p,
        lambda _qk: aggregate_kmer_index(tagged_kmers, extra_keys=("_set",)),
        fetch, extra_keys=("_set",), persisted=[],
    ).hits


def funnel_report(queries: DataFrame, targets: DataFrame, **options) -> dict:
    """A4: the reference's runtime funnel counters as a run report.

    Mirrors comparekmertables.cpp:463,495,587,619 (equal k-mers, hit rows,
    rows after HAVING) and blockalign.cpp:465-481 (alignments passed,
    hits/query). Every number counts a frame of the SAME cascade
    ``search(queries, targets, **options)`` runs — its query k-mers,
    index, grouped prefilter pairs and hits — as a separate job; use for
    diagnostics, not in the hot path. ``prefilter_rows`` (the member
    rows surviving HAVING) is the summed per-pair k-mer list length:
    each grouped pair collects exactly its member rows."""
    c = _inline_cascade(queries, targets, None, SearchParams(**options))
    matches = c.query_kmers.join(
        c.index.select("kmer", F.col("seq_id").alias("target_id")), "kmer"
    )
    n_queries = queries.count()
    report = {
        "query_kmers": c.query_kmers.count(),
        "index_kmers": c.index.count(),
        "equal_kmers": matches.count(),
        "prefilter_rows": c.pairs.agg(F.sum(F.size("kmers"))).head()[0] or 0,
        "prefilter_pairs": c.pairs.count(),
        "alignments_passed": c.hits.count(),
        "n_queries": n_queries,
    }
    report["hits_per_query"] = report["alignments_passed"] / max(1, n_queries)
    return report
