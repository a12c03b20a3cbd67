"""Independent pure-Python twin of the tweets pipeline, used to check the
benchmark's outputs outside the timed region.

It re-implements the CLI's ``nb-compat`` and ``svm-strict`` paths
(parse → clean chain A/B → tokenize → train → score → confusion counts)
with the standard library only. The generator (``gen.py``) emits ASCII
text only, where Python's ``re`` and Java's regex engine agree on every
pattern below, so the confusion counts must match the engine exactly.
Margins are rounded the same way the engine rounds them before the sign
test (``floor(x * 10^n + 0.5) / 10^n``), which makes the predictions
independent of summation order.
"""

from __future__ import annotations

import math
import re

_A = re.ASCII
URL_A = re.compile(
    r"(?i)(https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\.[^\s]{2,}"
    r"|www\.[a-zA-Z0-9][a-zA-Z0-9-]+[a-zA-Z0-9]\.[^\s]{2,}"
    r"|https?:\/\/(?:www\.|(?!www))[a-zA-Z0-9]+\.[^\s]{2,}"
    r"|www\.[a-zA-Z0-9]+\.[^\s]{2,})", _A)
TAG_A = re.compile(r"(#|@|&).*?\w+", _A)
DIGITS = re.compile(r"\d+", _A)
NON_ALPHA = re.compile(r"[^a-zA-Z ]", _A)
WS_RUN = re.compile(r"\s+", _A)
URL_B = re.compile(r"(?i)(https?:\/\/\S+)", _A)

EPOCHS, LR, LAMBDA = 5, 0.1, 0.01


def clean_a(s: str) -> str:
    s = URL_A.sub("", s)
    s = TAG_A.sub("", s)
    s = DIGITS.sub("", s)
    s = NON_ALPHA.sub(" ", s)
    return WS_RUN.sub(" ", s.lower().strip(" "))


def clean_b(s: str) -> str:
    s = URL_B.sub(" ", s.lower())
    s = NON_ALPHA.sub(" ", s)
    return WS_RUN.sub(" ", s).strip(" ")


def parse(lines, mode: str):
    """``(label, raw_text)`` per line, as ``sources.tweets`` parses it."""
    out = []
    for line in lines:
        parts = line.split(",")
        if mode == "svm":
            if len(parts) < 4:
                continue
            text = parts[3]
        else:
            text = parts[3] + "".join(parts[4:]) if len(parts) > 3 else ""
        out.append((1.0 if parts[1] == "1" else 0.0, text))
    return out


def docs(lines, mode: str):
    chain = clean_a if mode == "nb" else clean_b
    return [(y, chain(t)) for y, t in parse(lines, mode)]


def _pround(x: float, n: int) -> float:
    m = float(10 ** n)
    return math.floor(x * m + 0.5) / m


def _confusion(labels, preds) -> dict[str, int]:
    c = {"tp": 0, "fp": 0, "tn": 0, "fn": 0}
    for y, p in zip(labels, preds):
        key = ("t" if p == y else "f") + ("p" if p == 1.0 else "n")
        c[key] += 1
    return c


def nb_confusion(lines) -> dict[str, int]:
    """``nb-compat`` on one file, trained and scored on the same rows."""
    d = docs(lines, "nb")
    counts: dict[str, list[int]] = {}
    n_pos = words_pos = words_neg = 0
    for y, t in d:
        n_tok = len(WS_RUN.split(t))  # Java ``split("\\s+")`` quirk: "" -> 1
        if y == 1.0:
            n_pos += 1
            words_pos += n_tok
        else:
            words_neg += n_tok
        if t.strip(" "):
            for w in t.split(" "):
                counts.setdefault(w, [0, 0])[0 if y == 1.0 else 1] += 1
    v = len(counts)
    logp = {w: (math.log((c[0] + 1) / (words_pos + v)),
                math.log((c[1] + 1) / (words_neg + v)))
            for w, c in counts.items()}
    n = len(d)
    prior_pos = math.log(n_pos / n) if n_pos else float("-inf")
    prior_neg = math.log((n - n_pos) / n) if n - n_pos else float("-inf")
    preds = []
    for _, t in d:
        sp = sn = 0.0
        if t.strip(" "):
            for w in t.split(" "):
                sp += logp[w][0]
                sn += logp[w][1]
        margin = (prior_pos + sp) - (prior_neg + sn)
        preds.append(1.0 if _pround(margin, 6) > 0 else 0.0)
    return _confusion([y for y, _ in d], preds)


def svm_strict_weights(d) -> dict[str, float]:
    """``svm_train_declared``: five epochs of hinge-loss SGD with L2 decay."""
    base = [(1.0 if y == 1.0 else -1.0, t.split(" "))
            for y, t in d if t.strip(" ")]
    eta = LR / 1.01
    net: dict[str, float] = {}
    for y, ws in base:
        for w in ws:
            net[w] = net.get(w, 0.0) + y
    weights = {w: eta * s for w, s in net.items()}
    for epoch in range(2, EPOCHS + 1):
        eta = LR / (1 + epoch * 0.01)
        nv, sy = 0, {}
        for y, ws in base:
            dot = 0.0
            for w in ws:
                dot += weights.get(w, 0.0)
            if y * _pround(dot, 9) < 1.0:
                nv += 1
                for w in ws:
                    sy[w] = sy.get(w, 0.0) + y
        decay = 1.0 - eta * LAMBDA * nv
        new = {w: v * decay for w, v in weights.items()}
        for w, s in sy.items():
            new[w] = new.get(w, 0.0) + eta * s
        weights = new
    return weights


def svm_confusion(lines) -> dict[str, int]:
    """``svm-strict`` on one file, trained and scored on the same rows."""
    d = docs(lines, "svm")
    weights = svm_strict_weights(d)
    preds = []
    for _, t in d:
        score = 0.0
        if t.strip(" "):
            for w in t.split(" "):
                score += weights.get(w, 0.0)
        preds.append(1.0 if _pround(score, 6) >= 0 else 0.0)
    return _confusion([y for y, _ in d], preds)


def vocab_size(lines, mode: str) -> int:
    """Distinct tokens after cleaning: the vocabulary the trainers see."""
    return len({w for _, t in docs(lines, mode) if t.strip(" ")
                for w in t.split(" ")})
