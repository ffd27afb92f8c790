"""The package does not grow outside its product surface: the modules
reachable by import from a product root — the driver contract, the
bench CLI, the pipeline benchmark and the Telegram pipeline layers —
plus an explicit list of the unreachable modules still awaiting
deletion. A new module only its own tests import fails here, by name;
so does a list entry whose module was deleted or wired into the
product, so the list only shrinks. Static: stdlib ``ast`` over the
source, imports inside function bodies included, no Spark session."""

from __future__ import annotations

import ast
import glob
import os

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
    "operators/webdataset.py",
    "sources/archives.py",
    "sources/commit.py",
    "sources/interchange.py",
    "sources/retention.py",
    "streaming/contract_gate.py",
    "streaming/crawl_ingest.py",
    "streaming/dedup_ingest.py",
    "streaming/doc_ingest.py",
    "streaming/index_maintenance.py",
    "streaming/joins.py",
    "streaming/ledger_compaction.py",
    "streaming/media_ingest.py",
    "streaming/pack_stream.py",
    "streaming/quota.py",
    "streaming/sketch_ledger.py",
    "streaming/stat_ledgers.py",
    "streaming/substr_ingest.py",
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


def unreachable_modules() -> list[str]:
    modules = _package_modules()
    seen: set[str] = set()
    stack = list(ROOTS)
    while stack:
        path = stack.pop()
        if path in seen:
            continue
        seen.add(path)
        stack += [modules[n] for n in _imported_names(path) if n in modules]
    return sorted(p for p in modules.values() if p not in seen)


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
