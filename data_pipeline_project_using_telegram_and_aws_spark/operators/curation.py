"""Corpus curation: the end-to-end cleaning pipeline a training-data user
runs over a raw document corpus, composed from this engine's operators —

    exact dedup  →  near-dup dedup (MinHash-LSH or winnowing candidates;
    single-pass or connected-components closure)  →  quality gate  →
    (optional) LM-perplexity gate  →  (optional) language filter

Each stage both filters the surviving set and appends to a *drop ledger*
(doc_id, stage, reason[, evidence]) so every removal is auditable — at
100 TB the ledger is what lets you answer "why is this document gone" a
month later without re-running anything.

Scale shape: every stage is a pure DataFrame composition over the ops in
:mod:`dedup` (hash group-by, banded LSH — both sub-quadratic) plus
row-local quality expressions; the only joins against the corpus are
broadcast- or key-equi-joins on doc ids. Near-dup semantics are
**drop-every-doc_b**: any document appearing as the higher id of a
candidate pair is dropped, so a chain A~B, B~C drops BOTH B and C and
keeps only A (one pass, no iteration — NOT connected components, and
NOT per-pair greedy either: greedy could keep C after B's removal).
This over-drops relative to union-find transitive closure but is the
standard single-pass compromise at scale; exact closure would need an
iterative union-find. A ledger reason's referenced keeper
(``vs doc X``) is the pair's lower id and may itself have been dropped
by another pair — the ``kept_alive`` flag on the ledger row says
whether the referenced document survived the stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from . import dedup as D

LEDGER_COLS = ["doc_id", "stage", "reason", "kept_alive"]

# The pipeline stages two frames with a lazy localCheckpoint each. Each
# one pays a full Catalyst analyze+optimize+physical-plan pass AT CALL
# TIME (toRdd), so checkpoint count is a driver-side plan-build cost,
# traded against subtree re-execution in the final plan.


def _tokens(col):
    return F.filter(F.split(col, " "), lambda t: t != "")


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    jaccard_threshold: float = 0.8,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.3,
    keep_langs: list[str] | None = None,
    lang_col: str = "lang",
    near_dup_strategy: str = "minhash",
    near_dup_rows_per_band: int = 2,
    winnow_k: int = 8,
    winnow_window: int = 4,
    near_dup_closure: str = "drop_all",
    max_bits_per_token: float | None = None,
    lm_ref: DataFrame | None = None,
    max_dup_trigram_frac: float | None = None,
    max_top_token_share: float | None = None,
    compressibility_bounds: tuple[float, float] | None = None,
    dedup_doc_lines: bool = False,
    boilerplate: dict | None = None,
    exact_substr_k: int | None = None,
    language_model=None,
    language_model_kwargs: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation pipeline; returns ``(kept, ledger)``.

    ``kept`` preserves the input schema; ``ledger`` has one row per
    dropped document: (doc_id, stage, reason, kept_alive). Stages run in
    fixed order and each operates on the previous stage's survivors, so a
    document is dropped exactly once, by the first stage that rejects it.
    ``kept_alive`` is only meaningful on near_dedup rows: TRUE iff the
    keeper referenced in the reason (the pair's lower id) itself survived
    the near-dup stage — under drop-all-doc_b semantics it may not have
    (see module docstring); NULL on every other stage.

    ``near_dup_strategy`` picks the stage-2 candidate generator:

    - ``"minhash"`` (default): word-``ngram`` MinHash-LSH candidates
      scored by estimated Jaccard (:mod:`dedup`) — token-set similarity,
      robust to reordering.
    - ``"winnow"``: character k-gram winnowing fingerprints joined on
      the inverted fingerprint index (:mod:`winnowing`), scored by
      containment overlap — substring similarity, catches near-verbatim
      spans whole-token shingles dilute (and the guarantee runs the
      other way: any shared substring of ``winnow_k + winnow_window - 1``
      chars yields a shared fingerprint). ``jaccard_threshold`` gates
      the overlap score in this mode.

    Both generators feed the identical drop + ledger machinery, so
    swapping strategies changes candidate *generation* only, never drop
    semantics; the same scale shape holds (inverted index equi-join,
    never all-pairs).

    ``near_dup_rows_per_band`` is the minhash band geometry (salts per
    band): 2 is the pinned oracle-checked default; for corpora with
    nonzero background similarity grow it with
    `functions/lsh_tuning.minhash_rows_per_band` (one extra salt per
    background-collision doubling) so false candidates stay ~linear in
    N — `tools/scale_probe.py --curation` measures the curve.

    ``max_bits_per_token`` (optional) inserts an LM-perplexity gate
    between the quality and language stages: survivors scoring above the
    bound under :func:`lm_score.unigram_cross_entropy` (against
    ``lm_ref``, or themselves when ``lm_ref`` is None) are dropped with
    stage ``lm_quality`` and the 4-dp score in the reason. Zero-token
    documents have no score and pass through (the too_short gate is the
    stage that owns them).

    ``max_dup_trigram_frac`` / ``max_top_token_share`` (optional) add a
    Gopher-style repetition gate after the LM stage: survivors whose
    duplicate-trigram fraction or top-token share exceeds the bound drop
    with stage ``repetition`` and the 4-dp signal in the reason;
    ``compressibility_bounds=(lo, hi)`` (optional) adds the zlib-entropy
    band gate after it (stage ``compressibility``) —
    boilerplate and keyword-stuffed documents the row-local heuristics
    pass. Documents with <3 tokens have no trigram signal and pass
    (``too_short`` owns them).

    ``dedup_doc_lines`` / ``boilerplate`` (optional) prepend stage 0
    line-cleanup TRANSFORMS (`operators/boilerplate.py`): within-doc
    line dedup and corpus-DF boilerplate removal. They rewrite text
    rather than drop documents (no ledger rows; kept docs carry the
    cleaned text), and running them before stage 1 means chrome-only
    differences no longer defeat the exact-dedup hash.

    ``exact_substr_k`` (optional) appends an ExactSubstr TRANSFORM
    after the line cleanups: every corpus-repeated run of ≥ k chars is
    cut from EVERY document that carries it
    (`substr_dedup.exact_substring_spans` + `remove_spans`, the
    arXiv:2107.06499 policy). Like the other transforms it rewrites
    text instead of dropping rows; documents emptied by the cut are
    dropped downstream by ``too_short``, whose ledger row then names
    the real cause of death.

    ``language_model`` (optional, used with ``keep_langs``) swaps the
    language gate's signal from the precomputed ``lang_col`` to a
    fitted :func:`langid.train_langid` model scored over the stage's
    survivors (``language_model_kwargs`` forwards n/max_chars to
    :func:`langid.predict_lang` — they must match training). Ledger
    reasons say ``lang_pred=`` instead of ``lang=``; the heuristic
    default is unchanged.

    ``near_dup_closure`` picks the drop semantics applied to the
    candidate pairs:

    - ``"drop_all"`` (default): single-pass drop-every-doc_b (module
      docstring) — no iteration, but not a transitive closure: a chain
      2~5, 3~5 drops only 5, keeping 3 though it is transitively
      similar to the kept 2.
    - ``"components"``: exact transitive closure via
      :func:`components.connected_components` — each candidate cluster
      keeps exactly its lowest id; costs ~cluster-diameter iterative
      rounds over the (candidate-sized, not corpus-sized) edge list.
      Ledger reasons cite the cluster representative and ``kept_alive``
      is always TRUE (the representative survives by construction).
    """
    ledgers: list[DataFrame] = []

    # ---- stage 0: optional line cleanup (TRANSFORMS, not gates) ---------
    # ``dedup_doc_lines`` runs boilerplate.dedup_lines_within_doc (pure
    # projection); ``boilerplate={...}`` runs remove_boilerplate_lines
    # with those kwargs. Both REWRITE text instead of dropping rows, so
    # they live before every gate and leave no ledger rows (their audit
    # surface is n_dropped_lines / boilerplate_report, not the drop
    # ledger — the ledger records removed DOCUMENTS only). Ordering is
    # load-bearing: cleaning precedes hashing, so two documents that
    # differ only in chrome (one carries the banner, one doesn't)
    # hash-collide in stage 1 and dedup — recall the raw-text hash
    # would miss. Defaults off; kept docs carry CLEANED text when on.
    def _swap_text(base: DataFrame, cleaned: DataFrame) -> DataFrame:
        return base.drop(text_col).join(
            cleaned.select(F.col(id_col), F.col(text_col)), id_col
        )

    if dedup_doc_lines:
        from .boilerplate import dedup_lines_within_doc

        docs = _swap_text(
            docs, dedup_lines_within_doc(docs, id_col, text_col)
        )
    if boilerplate is not None:
        from .boilerplate import remove_boilerplate_lines

        docs = _swap_text(
            docs,
            remove_boilerplate_lines(docs, id_col, text_col, **boilerplate),
        )
    if exact_substr_k is not None:
        # ExactSubstr TRANSFORM (arXiv:2107.06499, `substr_dedup`):
        # cut every corpus-repeated ≥k-char run from every document
        # BEFORE hashing — the paper's dedup acts on spans, not docs,
        # so it is a rewrite like the line cleanups above, and runs
        # last among them (it must see the cleaned text the gates will
        # see). Docs hollowed out by the cut fall to the too_short
        # gate, which owns emptiness.
        from .substr_dedup import exact_substring_spans, remove_spans

        docs = remove_spans(
            docs,
            exact_substring_spans(
                docs, k=exact_substr_k, id_col=id_col, text_col=text_col
            ),
            id_col=id_col,
            text_col=text_col,
        )

    # ---- stage 1: exact dedup (keep lowest id per identical text) -------
    hashed = D.with_text_hash(docs, text_col)
    w = Window.partitionBy("text_hash").orderBy(id_col)
    # Materialize the ranked scan executor-side: four ledger/survivor
    # branches re-derive from it, and without the checkpoint each one
    # re-runs the scan + hash + window (the 100 TB analog is staging the
    # ranked table to the lake between pipeline stages).
    ranked = hashed.withColumn("__rn", F.row_number().over(w))
    ranked = ranked.localCheckpoint(eager=False)
    null_flag = F.lit(None).cast("boolean").alias("kept_alive")
    ledgers.append(
        ranked.filter(F.col("__rn") > 1).select(
            F.col(id_col).alias("doc_id"),
            F.lit("exact_dedup").alias("stage"),
            F.concat(F.lit("duplicate text_hash="), F.col("text_hash")).alias(
                "reason"
            ),
            null_flag,
        )
    )
    survivors = ranked.filter(F.col("__rn") == 1).drop("__rn", "text_hash")

    # ---- stage 2: near-dup dedup (candidates per strategy, drop higher
    # id) -----------------------------------------------------------------
    if near_dup_strategy == "minhash":
        cand = (
            D.minhash_lsh_candidates(
                survivors,
                n=ngram,
                rows_per_band=near_dup_rows_per_band,
                id_col=id_col,
                text_col=text_col,
            )
            .filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("doc_a", "doc_b", F.col("est_jaccard").alias("__score"))
        )
        reason_prefix = "minhash est_jaccard="
    elif near_dup_strategy == "winnow":
        from .winnowing import fingerprint_overlap, winnow_fingerprints

        fps = winnow_fingerprints(
            survivors,
            k=winnow_k,
            window=winnow_window,
            id_col=id_col,
            text_col=text_col,
        )
        cand = (
            fingerprint_overlap(fps, id_col=id_col)
            .filter(F.col("overlap") >= jaccard_threshold)
            .select("doc_a", "doc_b", F.col("overlap").alias("__score"))
        )
        reason_prefix = "winnow overlap="
    else:
        raise ValueError(
            f"unknown near_dup_strategy {near_dup_strategy!r}; "
            "expected 'minhash' or 'winnow'"
        )
    if near_dup_closure == "components":
        from .components import connected_components

        comp = connected_components(cand.select("doc_a", "doc_b"))
        near_drops = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id"),
            F.lit("near_dedup").alias("stage"),
            F.concat(
                F.lit(f"{near_dup_strategy} component vs doc "),
                F.col("component").cast("string"),
            ).alias("reason"),
            # the representative is the cluster min: never a doc_b of any
            # pair, so it survives the stage by construction
            F.lit(True).alias("kept_alive"),
        )
    elif near_dup_closure == "drop_all":
        near_base = cand.groupBy(F.col("doc_b").alias("doc_id")).agg(
            F.min("doc_a").alias("__kept"), F.max("__score").alias("__j")
        )
        # kept_alive: did the referenced keeper itself survive this stage?
        # (drop-all-doc_b can remove it via another pair — the audit trail
        # must say so instead of pointing at a ghost)
        dropped_ids = near_base.select(
            F.col("doc_id").alias("__kept"), F.lit(True).alias("__kept_dropped")
        )
        near_drops = (
            near_base.join(dropped_ids, "__kept", "left")
            .select(
                "doc_id",
                F.lit("near_dedup").alias("stage"),
                F.concat(
                    F.lit(reason_prefix),
                    # fixed 4-dp decimal rendering — double→string formatting
                    # differs across engines, DECIMAL(6,4) strings don't
                    F.col("__j").cast("decimal(6,4)").cast("string"),
                    F.lit(" vs doc "),
                    F.col("__kept").cast("string"),
                ).alias("reason"),
                F.col("__kept_dropped").isNull().alias("kept_alive"),
            )
        )
    else:
        raise ValueError(
            f"unknown near_dup_closure {near_dup_closure!r}; "
            "expected 'drop_all' or 'components'"
        )
    # The MinHash-LSH candidate computation above is the pipeline's
    # heaviest stage and feeds three consumers (this ledger slice, the
    # quality branch's anti-join, the language branch's anti-join);
    # checkpointing its small output runs it exactly once.
    near_drops = near_drops.localCheckpoint(eager=False)
    ledgers.append(near_drops)
    survivors = survivors.join(
        near_drops.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )

    # ---- stage 3: quality gate (row-local, whole-stage codegen) ---------
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^!?.,;:]", ""))
    punct_ratio = n_punct / F.greatest(F.length(text_col), F.lit(1))
    reason = (
        F.when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when(punct_ratio > max_punct_ratio, F.lit("punct_ratio"))
    )
    flagged = survivors.withColumn("__reason", reason)
    ledgers.append(
        flagged.filter(F.col("__reason").isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.lit("quality").alias("stage"),
            F.col("__reason").alias("reason"),
            null_flag,
        )
    )
    survivors = flagged.filter(F.col("__reason").isNull()).drop("__reason")

    # ---- stage 3.5: optional LM-perplexity gate -------------------------
    # CCNet-style: drop documents whose unigram cross-entropy under the
    # reference corpus (``lm_ref``; default: the stage's own survivors,
    # i.e. self-perplexity) exceeds ``max_bits_per_token`` — catches
    # off-domain and garbled text the row-local quality heuristics pass.
    if max_bits_per_token is not None:
        from .lm_score import unigram_cross_entropy

        scores = unigram_cross_entropy(
            survivors,
            ref_docs=lm_ref,
            id_col=id_col,
            text_col=text_col,
        ).select(
            F.col(id_col),
            F.col("bits_per_token").alias("__bpt"),
        )
        gated = survivors.join(scores, id_col, "left")
        bad_lm = F.col("__bpt") > max_bits_per_token
        ledgers.append(
            gated.filter(bad_lm).select(
                F.col(id_col).alias("doc_id"),
                F.lit("lm_quality").alias("stage"),
                F.concat(
                    F.lit("bits_per_token="),
                    # fixed 4-dp decimal rendering, as the near-dup reason
                    F.col("__bpt").cast("decimal(8,4)").cast("string"),
                ).alias("reason"),
                null_flag,
            )
        )
        survivors = gated.filter(~bad_lm | F.col("__bpt").isNull()).drop(
            "__bpt"
        )

    # ---- stage 3.6: optional repetition gate ----------------------------
    # Gopher-style intra-document repetition: duplicate-trigram fraction
    # (1 − distinct/total trigrams) and the top token's share — the
    # boilerplate / keyword-stuffing filters the row-local heuristics
    # pass. Same machinery as the tx7 observability panel, gating here.
    # Documents with <3 tokens have no trigrams and pass (too_short owns
    # them); both aggregations are exploded partial-agg'd shapes, linear
    # in the corpus.
    if max_dup_trigram_frac is not None or max_top_token_share is not None:
        from .dedup import shingle_rows

        g = (
            shingle_rows(survivors, 3, id_col, text_col, distinct=False)
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("__ng"),
                F.countDistinct("shingle").alias("__nd"),
            )
        )
        tm = (
            survivors.select(
                F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("__t")
            )
            .groupBy(id_col, "__t")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(id_col)
            .agg(
                F.max("__c").alias("__top"),
                F.sum("__c").alias("__nt"),
            )
        )
        sig = g.join(tm, id_col, "full").select(
            F.col(id_col),
            (1.0 - F.col("__nd") / F.col("__ng")).alias("__dupfrac"),
            (F.col("__top") / F.col("__nt")).alias("__topshare"),
        )
        gated = survivors.join(sig, id_col, "left")
        rep_reason = F.lit(None).cast("string")
        if max_dup_trigram_frac is not None:
            rep_reason = F.when(
                F.col("__dupfrac") > max_dup_trigram_frac,
                F.concat(
                    F.lit("dup_trigram_frac="),
                    F.col("__dupfrac").cast("decimal(6,4)").cast("string"),
                ),
            ).otherwise(rep_reason)
        if max_top_token_share is not None:
            rep_reason = F.when(
                F.col("__topshare") > max_top_token_share,
                F.concat(
                    F.lit("top_token_share="),
                    F.col("__topshare").cast("decimal(6,4)").cast("string"),
                ),
            ).otherwise(rep_reason)
        gated = gated.withColumn("__rep", rep_reason)
        ledgers.append(
            gated.filter(F.col("__rep").isNotNull()).select(
                F.col(id_col).alias("doc_id"),
                F.lit("repetition").alias("stage"),
                F.col("__rep").alias("reason"),
                null_flag,
            )
        )
        survivors = gated.filter(F.col("__rep").isNull()).drop(
            "__rep", "__dupfrac", "__topshare"
        )

    # ---- stage 3.7: optional compressibility gate ------------------------
    # zlib-entropy band (operators/compressibility.py): drops BOTH tails
    # — templated spam (too compressible) and non-text junk (barely
    # compressible) — the entropy axis the trigram heuristics can't see.
    # The one Python stage in curation when enabled (no JVM deflate
    # exists); docs under the 64-byte judgement floor pass (NULL ratio).
    if compressibility_bounds is not None:
        from .compressibility import compression_ratios

        c_lo, c_hi = compressibility_bounds
        ratios = compression_ratios(survivors, id_col, text_col).select(
            F.col(id_col), F.col("compression_ratio").alias("__cr")
        )
        gated = survivors.join(ratios, id_col, "left")
        bad_cr = F.col("__cr").isNotNull() & ~F.col("__cr").between(
            c_lo, c_hi
        )
        ledgers.append(
            gated.filter(bad_cr).select(
                F.col(id_col).alias("doc_id"),
                F.lit("compressibility").alias("stage"),
                F.concat(
                    F.lit("zlib_ratio="),
                    F.col("__cr").cast("decimal(7,4)").cast("string"),
                ).alias("reason"),
                null_flag,
            )
        )
        survivors = gated.filter(~bad_cr).drop("__cr")

    # ---- stage 4: optional language allow-list --------------------------
    # Two gates share the stage: the default trusts a precomputed
    # ``lang_col`` (the heuristic path — cu1's oracle semantics,
    # unchanged); passing ``language_model`` (a fitted
    # `langid.train_langid` PipelineModel) scores the SURVIVORS with
    # `langid.predict_lang` instead and gates on its prediction —
    # row-wise transform, no shuffle, and the ledger reason carries
    # ``lang_pred=`` so model-backed drops are distinguishable from
    # heuristic ``lang=`` drops at audit time.
    if keep_langs is not None and language_model is not None:
        from .langid import predict_lang

        preds = predict_lang(
            language_model,
            survivors,
            id_col=id_col,
            text_col=text_col,
            **(language_model_kwargs or {}),
        ).select(F.col(id_col), F.col("lang_pred").alias("__lang"))
        gated = survivors.join(preds, id_col, "left")
        # coalesce: an unscored doc (no prediction row) must drop WITH
        # a ledger entry, never vanish through three-valued logic
        bad = ~F.coalesce(
            F.col("__lang").isin(*keep_langs), F.lit(False)
        )
        ledgers.append(
            gated.filter(bad).select(
                F.col(id_col).alias("doc_id"),
                F.lit("language").alias("stage"),
                F.concat(
                    F.lit("lang_pred="),
                    F.coalesce(F.col("__lang"), F.lit("NULL")),
                ).alias("reason"),
                null_flag,
            )
        )
        survivors = gated.filter(~bad).drop("__lang")
    elif keep_langs is not None:
        bad = ~F.col(lang_col).isin(*keep_langs)
        ledgers.append(
            survivors.filter(bad).select(
                F.col(id_col).alias("doc_id"),
                F.lit("language").alias("stage"),
                F.concat(F.lit("lang="), F.col(lang_col)).alias("reason"),
                null_flag,
            )
        )
        survivors = survivors.filter(~bad)

    ledger = ledgers[0]
    for extra in ledgers[1:]:
        ledger = ledger.unionByName(extra)
    return survivors, ledger
