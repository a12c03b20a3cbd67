"""Workload definitions shared by the launcher and the worker processes.

Why each workload exists is written down in NOTES.md.
"""

from __future__ import annotations

# Rows per generated tweets corpus. Both tweets workloads use the same
# count, so the cleaning cost per run is the same and only the vocabulary
# differs.
TWEETS_ROWS = 3_000

# Passes per worker process: the first is cold (fresh JVM), the rest warm.
# Each tweets pass reads its own corpus; a registry pass repeats the whole
# query list. A tweets warm pass is short (about 45 small SVM jobs on Zipf)
# and moves with host noise, so the tweets warm figure is the median of three.
PASSES = {"tweets-small-vocab": 4, "tweets-zipf-vocab": 4, "registry": 2}

# Registry queries, each with the one operators.* module that owns it: the
# module whose public function does the query's distinctive work. Every
# operators.* module owns at least one query; stream_dedup_native stands
# for streaming.pipeline. The NB and SVM entries are the registry's view of
# the paper's job; nb_predictions fills sentiment's memo caches, so
# nb_stats and nb_confusion after it time only their own module's work.
REGISTRY_QUERIES: list[tuple[str, str]] = [
    ("nb_predictions", "nb"),
    ("nb_stats", "sentiment"),
    ("nb_confusion", "metrics"),
    ("svm_declared_weights", "svm"),
    ("mllib_nb_confusion", "svm"),
    ("bpe_merges", "bpe"),
    ("unigram_lm_vocab", "unigram"),
    ("copurchase_pagerank_weighted", "graph"),
    ("mm_image_features", "multimodal"),
    ("shuffle_split_docs", "curation"),
    ("dedup_exact", "dedup"),
    ("next_click_attribution", "events"),
    ("pricing_summary", "relational"),
    ("inverted_index", "search"),
    ("mrl_topk", "similarity"),
    ("word_counts_salted", "skew"),
    ("token_counts", "text_analysis"),
    ("stream_dedup_native", "streaming"),
]

# Queries whose oracle is a literal golden pinned to the repository's
# fixed testdata, so it cannot describe generated tables. They are checked
# for the oracle's column names and for equal results in every pass.
GOLDEN_PINNED = {"mllib_nb_confusion"}

REGISTRY_MODULES = sorted({m for _, m in REGISTRY_QUERIES})

TWEETS_SPANS = ("parse", "clean_a", "clean_b", "tokenize", "nb.train",
                "nb.score", "svm.train", "svm.score", "metrics")
