"""One-call corpus preprocessing — the composed training-data pipeline.

``corpus_pipeline`` chains the engine's hygiene operators in the order a
100 TB pretraining run wants them, each stage the already-tested
operator, nothing new — the value is the COMPOSITION being deterministic
end to end. Every stage is a pure function of (row content, config,
seed); no RNG, no partition-order dependence — so the full pipeline
output (which doc survives, its split, its packed block) is reproducible
on any cluster and replayable by the DuckDB oracle as one SQL statement.

Stage order (and why):

1. **quality filter** — cheapest narrow projection first; drops the junk
   before anything pays to hash it.
2. **PII redaction** — before dedup/fingerprinting, so documents that
   differ only in redacted spans collapse to one survivor and no PII
   survives into fingerprints or downstream storage.
3. **exact dedup** — min-id survivor per normalized-content fingerprint
   (one hash shuffle); runs before decontamination so the overlap scan
   pays for surviving docs only.
4. **decontamination** — drop every doc sharing >= ``min_matches``
   n-grams with the held-out benchmark (Bloom-prefiltered exact overlap,
   skipped when no benchmark is supplied).
5. **split assignment** — leakage-safe train/val/test by key hash (pure
   projection).
6. **packing** — fixed-capacity next-fit blocks per (split, shard):
   blocks never cross splits.

Scale shape: stages 1-2 fuse into the scan; 5 is free (pure
projection). The full documents are shuffled exactly TWICE end to end:
once inside exact dedup's survivor semi-join and once on (split, shard)
for packing — text and score ride the pack shuffle as payload, so there
is no join back by id (which would move every document a third time).
Everything else that shuffles is thin: (id, fingerprint) pairs for the
dedup groupBy, surviving (id, gram) candidates for decontamination.
The benchmark gram filter and the flagged-id list travel as broadcasts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import contamination_report
from .pack import pack_documents
from .sample import split_assign
from .text import (_no_pushdown, _widen, dedup_exact, quality_features,
                   redact_pii_col, token_count_col)


@dataclass(frozen=True)
class CorpusPipelineConfig:
    """Knobs for :func:`corpus_pipeline`; every field feeds a
    deterministic stage."""
    min_quality: float = 0.0
    redact_pii: bool = True
    dedup: bool = True
    decontam_ngram: int = 5
    decontam_fp: float = 1e-3
    decontam_min_matches: int = 1
    split_weights: tuple[float, ...] = (0.9, 0.05, 0.05)
    split_names: tuple[str, ...] = ("train", "val", "test")
    split_seed: int = 42
    pack_capacity: int = 2048
    pack_shards: int = 64
    pack_seed: int = 42
    #: materialize the dedup survivors once (lazy localCheckpoint) so the
    #: decontam scan / anti-join / pack shuffle don't each re-evaluate the
    #: regex+hash chain; False = fully lazy plan (recompute per branch)
    materialize: bool = True


def corpus_pipeline(
    docs: DataFrame,
    *,
    bench: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CorpusPipelineConfig = CorpusPipelineConfig(),
) -> DataFrame:
    """Training-ready corpus: quality-filtered, PII-redacted, deduped,
    decontaminated, split, packed. Returns one row per surviving
    document: ``id_col``, ``text`` (redacted), ``quality_score``,
    ``n_tokens``, ``split``, ``shard``, ``block_id``, ``oversize``.

    NULL-text rows are dropped at the quality gate (no scoreable
    content — the one place the pipeline is stricter than its parts).

    Fault tolerance: with ``cfg.materialize`` (the default) the dedup
    survivors are a ``localCheckpoint``, which truncates lineage and keeps
    its blocks on the executors that computed them. Losing one of those
    executors after the checkpoint materialized fails the job instead of
    recomputing the lost blocks; set ``materialize=False`` to keep the
    fully recomputable (and slower) lazy plan."""
    # 1. quality gate. NULL text needs the explicit isNotNull: greatest/
    # least SKIP null operands (both engines), so a NULL doc would score a
    # perfect 1.0 and sail through the threshold. Widen first (after the
    # narrow column select): every downstream stage is a CPU-bound
    # regex/hash map, and a single-row-group corpus file would serialize
    # all of them through one task (no-op at real input widths)
    scored = quality_features(_widen(docs.select(id_col, text_col)),
                              text_col)
    # _no_pushdown: a plain quality_score filter would be substituted
    # below the Project AND pushed below the widening exchange — the
    # whole scoring expression evaluated twice, once serialized into the
    # narrow scan stage (measured 2.1 s -> 0.7 s at sf1.0). The cheap
    # isNotNull stays a separate pushable conjunct.
    kept = scored.filter(
        F.col(text_col).isNotNull()
        & _no_pushdown(
            F.col("quality_score") >= F.lit(float(cfg.min_quality))))

    # 2. redact in place
    if cfg.redact_pii:
        kept = kept.withColumn(text_col, redact_pii_col(text_col))

    # 3. exact dedup on the redacted, normalized content
    if cfg.dedup:
        kept = dedup_exact(kept, id_col, text_col)

    # Materialize the dedup survivors ONCE (lazy local checkpoint: first
    # action computes + stores, lineage truncates). Three consumers read
    # this frame — the decontamination gram scan, the anti-join's kept
    # side, and the pack shuffle — and without a materialization each
    # re-evaluates the whole regex/sha256/join chain above (no common
    # exchange to reuse: the dedup semi-join broadcasts). This is the
    # standard write-intermediate-survivors step of a production corpus
    # pipeline; storage cost is one pass of the POST-dedup corpus
    # (memory+disk, blocks freed by the context cleaner when the frame is
    # dropped). Set materialize=False to keep the fully-lazy plan.
    if cfg.materialize and (cfg.dedup or cfg.redact_pii):
        kept = kept.localCheckpoint(eager=False)

    # 4. decontaminate. No broadcast hint on the flagged-id anti-join:
    # AQE broadcasts from the RUNTIME size, so a majority-contaminated
    # corpus degrades to a plain anti-join instead of blowing a forced
    # broadcast (VERDICT r06; measured equal-or-faster locally)
    if bench is not None and cfg.decontam_ngram:
        flagged = contamination_report(
            kept, bench, id_col=id_col, text_col=text_col,
            bench_text_col=text_col, ngram_n=cfg.decontam_ngram,
            fp=cfg.decontam_fp,
            min_matches=cfg.decontam_min_matches).select(id_col)
        kept = kept.join(flagged, on=id_col, how="left_anti")

    # 5. split assignment
    kept = split_assign(
        kept, [id_col],
        list(zip(cfg.split_names, cfg.split_weights)),
        seed=cfg.split_seed)

    # 6. pack per (split, shard); text + score ride the pack shuffle as
    # payload — a join back by id would re-shuffle (and recompute) every
    # surviving document a second time
    packed = pack_documents(
        kept, id_col, text_col, capacity=cfg.pack_capacity,
        num_shards=cfg.pack_shards, seed=cfg.pack_seed,
        group_cols=("split",), payload_cols=(text_col, "quality_score"))

    return packed.select(
        id_col, text_col, "quality_score", "n_tokens", "split", "shard",
        "block_id", "oversize")
