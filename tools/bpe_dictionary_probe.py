"""BPE training at dictionary scale: time ``bpe.bpe_train`` and the
driver's Python heap on a synthesized ``(word, freq)`` dictionary far
larger than the testdata's (whose dictionaries are ~30 words).

The dictionary is ``--words`` distinct words of 2-12 letters drawn
with a Zipf-like letter distribution (seed 1), the word of rank r
having frequency ``max(1, 10^7 // r)``. It is written to a parquet
file in a temporary directory and read back, so the train starts from
a scan as the CLI's ``tokenize-train`` does.

Usage: python tools/bpe_dictionary_probe.py [--words N] [--merges M]
                                            [--batch-k K] [--cpus C]
Prints one JSON line: seconds in ``bpe_train``, the driver process's
peak RSS before and after it (MB), and the number of merges learned.
Run one size per process: the peak RSS is the process's high-water
mark.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def zipf_dictionary(n_words: int) -> pa.Table:
    """``n_words`` distinct words, vectorized so that building them
    leaves the driver's peak RSS to the train."""
    rng = np.random.default_rng(1)
    p = 1.0 / np.arange(1, 27) ** 0.9
    letters = np.frombuffer(b"etaoinshrdlcumwfgypbvkjxqz", dtype=np.uint8)
    drawn = []
    for start in range(0, 2 * n_words, 100_000):
        m = min(100_000, 2 * n_words - start)
        codes = letters[rng.choice(26, size=(m, 12), p=p / p.sum())]
        codes[np.arange(12) >= rng.integers(2, 13, size=(m, 1))] = 0
        drawn.append(codes.view("S12").ravel())
    words = np.unique(np.concatenate(drawn))
    assert len(words) >= n_words, "too few distinct words drawn"
    words = rng.permutation(words)[:n_words].astype(str)
    freq = np.maximum(1, 10**7 // np.arange(1, n_words + 1))
    return pa.table({"word": words, "freq": freq.astype(np.int64)})


def _peak_rss_mb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--words", type=int, default=100_000)
    ap.add_argument("--merges", type=int, default=64)
    ap.add_argument("--batch-k", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=2)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from text_sentiment_classification_hadoop_spark_spark.operators.bpe import bpe_train
    from text_sentiment_classification_hadoop_spark_spark.session import get_spark

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "dictionary.parquet")
        pq.write_table(zipf_dictionary(args.words), path)
        spark = get_spark(app_name="bpe_dictionary_probe",
                          master=f"local[{args.cpus}]")
        words = spark.read.parquet(path)
        rss_before = _peak_rss_mb()
        t0 = time.perf_counter()
        merges = bpe_train(words, n_merges=args.merges, batch_k=args.batch_k)
        secs = time.perf_counter() - t0
        spark.stop()
    print(json.dumps({"words": args.words, "merges": len(merges),
                      "batch_k": args.batch_k, "train_s": round(secs, 1),
                      "peak_rss_mb_before": rss_before,
                      "peak_rss_mb_after": _peak_rss_mb()}))


if __name__ == "__main__":
    main()
