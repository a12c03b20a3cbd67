"""Public-operator registry audit:
``unigram_token_counts`` once shipped with pytest-only
coverage because nothing enforced that a public operator function is
exercised by the driver-checkable registry. This gate makes that
structural: every PUBLIC function defined in the engine package must
be referenced OUTSIDE its defining module and test files — i.e. by
``__spark_entry__.py`` (directly or through a covered caller) or by
another package module — or carry an explicit documented waiver in
:data:`WAIVERS`.

Coverage definition (a finding = none of these hold):

1. referenced by AST ``Name``/``Attribute`` in ANOTHER package module —
   a real cross-module consumer (docstring/comment mentions do NOT
   count);
   or
2. referenced textually (``\\b<name>\\b``) in ``__spark_entry__.py`` or
   ``bench.py`` — these two are string-keyed registries (query names in
   dict literals, SQL text, showcase lists), so an AST-only rule would
   miss legitimate uses; they are also overwhelmingly code, not prose,
   so the docstring-mention loophole is negligible there; or
3. referenced by AST ``Name``/``Attribute`` inside a DIFFERENT
   top-level statement of its own module — a building block of a
   covered operator (``parse_ppmv`` inside the frame-sample UDF,
   ``substring_edges`` inside ``unigram_train_df``); its own ``def``
   (docstring included) never self-covers.

Deliberately loose enough to accept building blocks, and exactly tight
enough to catch the observed failure mode — a leaf capability whose
only consumers are tests.

Run: ``python tools/operator_registry_audit.py`` (exit 1 on findings);
``tests/test_operator_registry_audit.py`` runs it in Tier-1.
"""

from __future__ import annotations

import ast
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "text_sentiment_classification_hadoop_spark_spark")

#: name -> reason. Every entry is a deliberate library-only surface:
#: a seam for direct PySpark consumers that the registry exercises
#: through a different (covered) entry point, or test/tooling plumbing.
WAIVERS: dict[str, str] = {
    # session/config plumbing — exercised by every query implicitly
    "get_spark": "session factory; every registry query runs through it",
    # CLI surface (tests/test_cli.py drives it end-to-end)
    "main": "CLI entry (__main__.py / module mains); subprocess-tested",
    # plan-inspection helpers (used by tests + tools, not data paths)
    "explain_str": "plan-text helper for tests/tools; no data semantics",
    "assert_no_cartesian": "plan assertion helper for tests/audit tooling",
    "assert_broadcast_join": "plan assertion helper for tests/audit "
                             "tooling (tests/test_plans.py)",
    "assert_no_exchange": "plan assertion helper for tests/audit "
                          "tooling (tests/test_plans.py)",
    "assert_pushed_filters": "plan assertion helper for tests/audit "
                             "tooling (tests/test_plans.py)",
    # documented Arrow-batched escape hatch (U-1): row-at-a-time
    # lambdas re-expressed as pandas UDFs, equality with the native
    # chains pinned by tests/test_udf_compat.py — deliberately in NO
    # hot path, so no registry query may route through them
    "clean_chain_a_pudf": "udf_compat escape hatch; native chain A is "
                          "the registry path (tweets_clean_chain)",
    "clean_chain_b_pudf": "udf_compat escape hatch; native chain B is "
                          "the registry path (tweets_clean_chain_b)",
    # convenience compositions of two registry-covered functions
    # (edges_from_rel[_weighted] ∘ copurchase_rel); the registry builds
    # the same plan through its session-reused _copurchase_rel
    "copurchase_edges": "alias for edges_from_rel(copurchase_rel(...))",
    "copurchase_edges_weighted":
        "alias for edges_from_rel_weighted(copurchase_rel(...))",
    # fixture encoder for the synthetic PPMV media container: the
    # DECODE side is registry-covered (video_frame_dedup etc.); encode
    # exists to build deterministic test media (tests/test_multimodal)
    "encode_ppmv": "test-media encoder; decode path is registry-covered",
    # reference-quirk compat twin, self-documented as "deliberately
    # OUTSIDE the hash-oracle set": raw double products underflow at
    # engine-specific points, so only the pytest argmax-equivalence is
    # meaningful (nb.py docstring; log-space nb_score is the registry M3)
    "nb_score_compat_raw": "float-product reference quirk; "
                           "not cross-engine hashable (nb.py:158)",
    # 2-line catalog-read seam of write_bucketed; the no-exchange join
    # contract it exists for is plan-asserted in tests/test_bucketing
    "read_table": "spark.table() seam; bucketed-join contract is "
                  "plan-tested; catalog state cannot cross the "
                  "driver's fresh oracle session",
    "write_bucketed": "catalog-state writer twin of read_table (same "
                      "reason: bucketed tables cannot cross the "
                      "driver's fresh oracle session); no-exchange "
                      "join contract plan-tested in tests/"
                      "test_bucketing.py",
    "write_partitioned": "hive-layout writer seam; partition-pruning "
                         "contract plan-tested in tests/"
                         "test_bucketing.py; registry storage seams "
                         "(training shards, z-order, CDC, compaction) "
                         "each exercise their own writer",
    # parquet model-store read seam: the registry S5/S6 loop is
    # export_reference_format -> refmodel Data Source
    # (nb_model_kv_roundtrip); the parquet save/load pair's sorted-
    # output + skew contract is pytest-pinned
    "load_model": "parquet model read seam; registry covers the "
                  "reference text-KV roundtrip; lossless parquet "
                  "roundtrip pinned by tests/test_model_store_skew.py",
    # arbitrary-path streaming source factory for library callers /
    # tests; every registry stream builds from the sf_dir testdata via
    # events_raw_stream (footer schema), not the declared-schema
    # file factory
    "events_stream_from_files": "file-source factory for caller paths; "
                                "registry streams use events_raw_stream;"
                                " driven end-to-end by tests/"
                                "test_events_streaming.py",
    # pure sizing arithmetic (no DataFrame in, no DataFrame out):
    # picks n_planes so expected LSH bucket size stays ~target as the
    # corpus grows; property-pinned by tests/test_dedup_similarity.py
    "planes_for": "scalar LSH plane-count sizing helper; pure "
                  "arithmetic, property-tested; data paths take "
                  "n_planes explicitly",
}


def _module_defs_and_refs(
        path: str) -> tuple[list[str], dict[str, set], set]:
    """``(public_names, same_module_refs, all_refs)`` for ``path``:
    ``same_module_refs[name]`` = the set of names referenced (Name ids
    + Attribute attrs) inside top-level statements OTHER than ``name``'s
    own def — so a function counts as consumed by its own module only
    when some sibling actually uses it; ``all_refs`` = every Name id /
    Attribute attr in the module, used for the cross-module AST rule
    (rule 1)."""
    with open(path) as f:
        tree = ast.parse(f.read())
    pubs = [n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not n.name.startswith("_")]
    refs_by_stmt: list[tuple[str | None, set]] = []
    for n in tree.body:
        own = n.name if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        used = {sub.id for sub in ast.walk(n) if isinstance(sub, ast.Name)}
        used |= {sub.attr for sub in ast.walk(n)
                 if isinstance(sub, ast.Attribute)}
        refs_by_stmt.append((own, used))
    sibling_refs = {name: set().union(
        *(u for own, u in refs_by_stmt if own != name)) for name in pubs}
    all_refs = set().union(*(u for _own, u in refs_by_stmt)) \
        if refs_by_stmt else set()
    return pubs, sibling_refs, all_refs


def _package_sources() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PKG):
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return out


def audit() -> list[str]:
    """Return findings: public functions with no reference outside
    their defining module (and no waiver)."""
    srcs = _package_sources()
    defs: list[tuple[str, str, bool]] = []
    module_refs: dict[str, set] = {}
    for p in srcs:
        pubs, sibling_refs, all_refs = _module_defs_and_refs(p)
        defs += [(name, p, name in sibling_refs[name]) for name in pubs]
        module_refs[p] = all_refs
    string_keyed = [os.path.join(REPO, "__spark_entry__.py"),
                    os.path.join(REPO, "bench.py")]
    texts = {p: open(p).read() for p in string_keyed}
    findings = []
    for name, defined_in, sibling_covered in defs:
        if name in WAIVERS or sibling_covered:
            continue
        # rule 1: AST reference in another package module
        if any(name in refs for p, refs in module_refs.items()
               if p != defined_in):
            continue
        # rule 2: textual match in the string-keyed registry files
        pat = re.compile(rf"\b{re.escape(name)}\b")
        if not any(pat.search(txt) for txt in texts.values()):
            rel = os.path.relpath(defined_in, REPO)
            findings.append(
                f"{rel}: public function `{name}` is referenced nowhere "
                "outside its own def (no registry path, no package "
                "consumer) — register a driver-checkable query for it or "
                "add a documented WAIVERS entry")
    return sorted(findings)


def main() -> int:
    findings = audit()
    for f in findings:
        print(f"FINDING: {f}")
    n_waived = len(WAIVERS)
    print(f"operator-registry audit: {len(findings)} unwaived uncovered "
          f"public functions ({n_waived} documented waivers)")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
