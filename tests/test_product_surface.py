"""The package does not grow outside its product surface: the modules
reachable by import from a product root — the driver contract, the
bench CLI, the pipeline benchmark and the Telegram pipeline layers —
plus an explicit list of the unreachable modules still awaiting
deletion. A new module only its own tests import fails here, by name;
so does a list entry whose module was deleted or wired into the
product, so the list only shrinks.

The same holds one level down, for the top-level defs and classes of
the reachable files: each must be named by product code outside its
own definition (called, imported, or read as an attribute), or be
listed in ``PENDING_DEFS``. Prose in docstrings and comments does not
count; tests and tools do not count. Static: stdlib ``ast`` over the
source, imports inside function bodies included, no Spark session.

Tools are not product, but what they import from the package must
exist: a deleted module or def fails here under the tool that still
names it, even when that import sits in a function body that
``--help`` never runs."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_pipeline_project_using_telegram_and_aws_spark"
ROOTS = [
    "__spark_entry__.py",
    "bench.py",
    *sorted(glob.glob("perfbench/*.py", root_dir=ROOT)),
    f"{PKG}/streaming/ingest.py",
    f"{PKG}/streaming/etl_job.py",
    f"{PKG}/sources/lake.py",
    f"{PKG}/plans/telegram_queries.py",
]
# unreachable today; each leaves this list when it is deleted
PENDING_DELETION = {
    "operators/bitext.py",
    "operators/bpe.py",
    "operators/chunking.py",
    "operators/code_governance.py",
    "operators/code_text.py",
    "operators/contracts.py",
    "operators/dialogs.py",
    "operators/drift.py",
    "operators/dsir.py",
    "operators/email_docs.py",
    "operators/embedding_drift.py",
    "operators/evaluation.py",
    "operators/exif.py",
    "operators/ffmpeg_seam.py",
    "operators/frequency.py",
    "operators/funnel.py",
    "operators/hybrid.py",
    "operators/linkage.py",
    "operators/negatives.py",
    "operators/normalize.py",
    "operators/phash.py",
    "operators/pq.py",
    "operators/privacy.py",
    "operators/profiling.py",
    "operators/projection.py",
    "operators/quality_classifier.py",
    "operators/quantile_sketch.py",
    "operators/quantization.py",
    "operators/recrawl.py",
    "operators/redaction.py",
    "operators/resample.py",
    "operators/retrieval_metrics.py",
    "operators/sft.py",
    "operators/sketches.py",
    "operators/skew.py",
    "operators/snapshots.py",
    "operators/text_vectors.py",
    "operators/token_ids.py",
    "operators/topics.py",
    "operators/unigram_tokenizer.py",
    "sources/archives.py",
    "sources/interchange.py",
    "sources/retention.py",
    "streaming/crawl_ingest.py",
    "streaming/index_maintenance.py",
    "streaming/ledger_compaction.py",
    "streaming/quota.py",
    "streaming/sketch_ledger.py",
    "streaming/stat_ledgers.py",
}

# called by the external driver, which is not in this repository
DRIVER_CONTRACT = {"entry", "queries", "oracle_sql"}
# top-level defs of reachable files that no product code names (tests,
# tools or prose may); each leaves this list when it is deleted or wired
# into the product
PENDING_DEFS = {
    "functions/scale_rules.py::dsir_rowlocal_max_buckets",
    "functions/scale_rules.py::skew_n_salts",
    "operators/asof.py::asof_join_forward",
    "operators/asof.py::interval_overlap_join",
    "operators/boilerplate.py::boilerplate_report",
    "operators/boilerplate.py::remove_boilerplate_against_ledger",
    "operators/boilerplate.py::update_line_df_ledger",
    "operators/compaction.py::compact_zordered",
    "operators/compressibility.py::compressibility_gate",
    "operators/decontamination.py::build_eval_embedding_table",
    "operators/decontamination.py::build_eval_gram_table",
    "operators/decontamination.py::contamination_against_table",
    "operators/decontamination.py::decontaminate_corpus",
    "operators/decontamination.py::semantic_contamination_against_table",
    "operators/decontamination.py::semantically_contaminated_ids",
    "operators/dedup.py::build_minhash_index_table",
    "operators/dedup.py::cross_source_dup_matrix",
    "operators/dedup.py::dedup_against_index",
    "operators/dedup.py::minhash_signatures",
    "operators/dedup.py::ngram_containment_pairs",
    "operators/feeds.py::feed_metadata",
    "operators/feeds.py::feed_seeds",
    "operators/html.py::jsonld_metadata",
    "operators/html.py::opengraph_metadata",
    "operators/langid.py::train_langid",
    "operators/latex.py::latex_metadata",
    "operators/links.py::build_frontier",
    "operators/links.py::outlink_array",
    "operators/links.py::schedule_fetches",
    "operators/lm_score.py::kneser_ney_cross_entropy",
    "operators/media_codecs.py::audio_frame_energies",
    "operators/media_codecs.py::audio_spectral_features",
    "operators/media_codecs.py::encode_gif",
    "operators/media_codecs.py::encode_png",
    "operators/media_codecs.py::extract_audio_features",
    "operators/media_codecs.py::extract_video_metadata",
    "operators/media_codecs.py::image_quality_stats",
    "operators/media_codecs.py::numpy_gif_frame_sampler",
    "operators/media_codecs.py::numpy_resize_batch",
    "operators/multimodal.py::resize_media",
    "operators/multimodal.py::sample_frames",
    "operators/office.py::extract_office_text",
    "operators/packing.py::affected_shards",
    "operators/packing.py::export_training_shards",
    "operators/packing.py::materialize_token_sequences",
    "operators/packing.py::reexport_shards",
    "operators/packing.py::shuffle_epoch_order",
    "operators/packing.py::verify_training_shards",
    "operators/pdf.py::extract_pdf_text",
    "operators/retrieval.py::bm25f_scores",
    "operators/retrieval.py::corpus_term_stats",
    "operators/robots.py::parse_robots_txt",
    "operators/robots.py::robots_directives",
    "operators/robots.py::sitemap_urls",
    "operators/semdedup.py::incremental_semantic_dedup",
    "operators/semdedup.py::knn_join",
    "operators/similarity.py::append_ivf_assignments",
    "operators/similarity.py::build_ivf_assignments_table",
    "operators/similarity.py::ivf_residual_stats",
    "operators/similarity.py::ivf_topk_from_table",
    "operators/similarity.py::lsh_neardup_pairs",
    "operators/splits.py::deterministic_take_per_group",
    "operators/splits.py::leakage_safe_split",
    "operators/splits.py::normalize_scores_per_group",
    "operators/splits.py::quantile_gate",
    "operators/splits.py::solve_mixture",
    "operators/splits.py::split_report",
    "operators/splits.py::take_tokens_per_group",
    "operators/splits.py::temperature_sample",
    "operators/splits.py::weighted_take_per_group",
    "operators/urls.py::domain_report",
    "operators/urls.py::filter_blocked_domains",
    "operators/video.py::frames_decodable",
    "operators/video.py::numpy_video_frame_sampler",
    "operators/video.py::sample_frame_images",
    "operators/vocabulary.py::oov_report",
    "plans/multimodal_queries.py::mm1_binary_metadata",
    "plans/similarity_queries.py::ss4_bucket_histogram",
    "plans/starschema_queries.py::q12_distinct_and_counts",
    "plans/starschema_queries.py::q14_rollup_cube",
    "plans/starschema_queries.py::q21_topk",
    "plans/starschema_queries.py::q24_scalar_functions",
    "plans/starschema_queries.py::q25_date_functions",
    "plans/starschema_queries.py::q5_tpch_q6_forecast_revenue",
    "plans/temporal_queries.py::q38_hash_sample",
    "plans/text_queries.py::tx3_langid_heuristic",
    "plans/text_queries.py::tx4_fingerprints",
    "plans/text_queries.py::tx6_document_frequency",
    "sources/bucketing.py::compact_bucketed_table",
    "sources/bucketing.py::exchange_count",
    "sources/warc.py::warc_cdx",
    "sources/warc.py::warc_file_lengths",
    "sources/warc.py::write_warc_responses",
    "sources/zorder.py::write_zordered",
    "streaming/windows.py::streaming_dedup_within_watermark",
    "streaming/windows.py::streaming_first_seen_dedup",
    "streaming/windows.py::windowed_event_counts",
}


def _module_name(path: str) -> str:
    name = path[: -len(".py")].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _package_modules() -> dict[str, str]:
    paths = glob.glob(f"{PKG}/**/*.py", root_dir=ROOT, recursive=True)
    return {_module_name(p): p for p in paths}


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import in ``path`` can bind, with relative
    imports resolved and each prefix included (importing ``a.b.c``
    runs ``a`` and ``a.b`` too)."""
    package = _module_name(path).split(".")
    if not path.endswith("__init__.py"):
        package = package[:-1]
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module
            names.add(module)
            names.update(f"{module}.{a.name}" for a in node.names)
    parts = [n.split(".") for n in names]
    return {".".join(p[:i]) for p in parts for i in range(1, len(p) + 1)}


def _reachable_files() -> set[str]:
    modules = _package_modules()
    seen: set[str] = set()
    stack = list(ROOTS)
    while stack:
        path = stack.pop()
        if path in seen:
            continue
        seen.add(path)
        stack += [modules[n] for n in _imported_names(path) if n in modules]
    return seen


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at import time: its top-level defs,
    classes, assignments and imports."""
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read())
    names = set()
    for st in tree.body:
        if isinstance(
            st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.add(st.name)
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names.update(
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)
            )
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).partition(".")[0] for a in st.names
            )
    return names


def unresolved_tool_imports() -> list[str]:
    """``tool:line: module.name`` for every package import in
    ``tools/*.py`` whose module does not exist or does not bind the
    imported name at top level (a submodule counts as bound)."""
    modules = _package_modules()
    bad = []
    for tool in sorted(glob.glob("tools/*.py", root_dir=ROOT)):
        with open(os.path.join(ROOT, tool)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                wanted = {a.name: [] for a in node.names}
            elif isinstance(node, ast.ImportFrom) and not node.level:
                wanted = {node.module: [a.name for a in node.names]}
            else:
                continue
            for module, names in wanted.items():
                if module.split(".")[0] != PKG:
                    continue
                if module not in modules:
                    bad.append(f"{tool}:{node.lineno}: {module}")
                    continue
                bound = _top_level_names(modules[module])
                bad += [
                    f"{tool}:{node.lineno}: {module}.{name}"
                    for name in names
                    if name != "*"
                    and f"{module}.{name}" not in modules
                    and name not in bound
                ]
    return bad


def unreachable_modules() -> list[str]:
    seen = _reachable_files()
    return sorted(p for p in _package_modules().values() if p not in seen)


def _code_names(node: ast.AST) -> set[str]:
    """The identifiers ``node``'s code names: variables, attributes and
    imported names. Docstrings and comments are not code."""
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rpartition(".")[2])
    return names


def unnamed_defs() -> list[str]:
    """``path::name`` of every top-level def or class in a reachable
    file that no top-level statement of a reachable file names, apart
    from the definition itself. Matching is by bare name, so a def that
    shares its name with a named one elsewhere passes: the check can
    miss dead code. A call by string or from outside the repository is
    not seen; the driver contract's entry points are exempt by name."""
    statements = []
    for path in sorted(_reachable_files()):
        with open(os.path.join(ROOT, path)) as f:
            tree = ast.parse(f.read())
        statements += [(path, st, _code_names(st)) for st in tree.body]
    uses = Counter(n for _, _, names in statements for n in names)
    return sorted(
        f"{path.removeprefix(f'{PKG}/')}::{st.name}"
        for path, st, names in statements
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and st.name not in DRIVER_CONTRACT
        and uses[st.name] == (st.name in names)
    )


def test_no_module_outside_the_product_surface_beyond_the_list():
    new = [
        p for p in unreachable_modules()
        if p.removeprefix(f"{PKG}/") not in PENDING_DELETION
    ]
    assert not new, (
        f"{len(new)} modules no product root imports:\n" + "\n".join(new)
    )


def test_pending_list_names_only_unreachable_modules():
    unreachable = {p.removeprefix(f"{PKG}/") for p in unreachable_modules()}
    stale = sorted(PENDING_DELETION - unreachable)
    assert not stale, (
        "deleted or now reachable; drop from PENDING_DELETION:\n"
        + "\n".join(stale)
    )


def test_every_reachable_def_is_named_or_pending():
    unnamed = set(unnamed_defs())
    new = sorted(unnamed - PENDING_DEFS)
    stale = sorted(PENDING_DEFS - unnamed)
    assert not new and not stale, (
        f"{len(new)} defs no product code names:\n" + "\n".join(new)
        + "\ndeleted or now named; drop from PENDING_DEFS:\n"
        + "\n".join(stale)
    )


def test_every_package_import_in_tools_resolves():
    bad = unresolved_tool_imports()
    assert not bad, (
        f"{len(bad)} tool imports name a missing module or def:\n"
        + "\n".join(bad)
    )
