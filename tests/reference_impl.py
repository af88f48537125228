"""Independent single-process reference implementation (the parity oracle).

Implements the same PUBLIC SPEC as the distributed pipeline — html->text
extraction, maximal-munch mention scan, SVO adjacency triples, top-1 alias
canonicalization — with deliberately different machinery (a character
state machine instead of regex tag stripping; a token-index scan instead
of a regex alternation). The BASELINE contract is checked against this:
byte-identical text per url, triple-set P/R >= 0.95. The error-analysis
operators (insights.py) and the MinHash/SimHash kernels (dedupe.py) are
checked against the plain-Python versions at the end of this file.
"""

from __future__ import annotations

from recon_spark.gazetteer import (
    ALIASES,
    GAZ_AMBIG,
    GAZ_FIXED,
    PREDICATES,
)

_BIGRAMS = {s for s in list(GAZ_FIXED) + list(GAZ_AMBIG) if " " in s}
_UNIGRAMS = {s for s in list(GAZ_FIXED) + list(GAZ_AMBIG) if " " not in s}
_PREDS = set(PREDICATES)

# top-1 alias candidate per surface: highest score, entity_id tiebreak
_BEST_ALIAS: dict[str, str] = {}
for alias, eid, _name, score in sorted(ALIASES, key=lambda r: (r[0], -r[3], r[1])):
    _BEST_ALIAS.setdefault(alias, eid)


def ref_text(html: bytes) -> str:
    """Character state machine: drop <head>..</head>, tags -> space,
    unescape &amp; &lt; &gt;, collapse whitespace."""
    s = html.decode("utf-8")
    # drop head section
    hs = s.find("<head>")
    he = s.find("</head>")
    if hs != -1 and he != -1:
        s = s[:hs] + s[he + len("</head>") :]
    out_chars: list[str] = []
    in_tag = False
    for ch in s:
        if in_tag:
            if ch == ">":
                in_tag = False
                out_chars.append(" ")
        elif ch == "<":
            in_tag = True
        else:
            out_chars.append(ch)
    text = "".join(out_chars)
    text = text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    return " ".join(text.split())


def ref_mentions(page_id: int, text: str) -> list[tuple[str, str, int, int]]:
    """Maximal-munch over the token list: (surface, label, start, end)."""
    words = text.split(" ")
    starts: list[int] = []
    pos = 0
    for w in words:
        starts.append(pos)
        pos += len(w) + 1
    par = page_id % 2
    out = []
    i = 0
    while i < len(words):
        # word-boundary semantics: a surface may be followed by trailing
        # sentence periods inside the same whitespace token ("slow." still
        # contains the mention "slow"), but never preceded/split by them.
        if i + 1 < len(words):
            w2core = words[i + 1].rstrip(".")
            big = words[i] + " " + w2core  # first word must be exact (no
            # boundary can cross its trailing dot), second may carry dots
            if big in _BIGRAMS:
                lab = GAZ_FIXED.get(big) or GAZ_AMBIG[big][par]
                out.append((big, lab, starts[i], starts[i + 1] + len(w2core)))
                i += 2
                continue
        core = words[i].rstrip(".")
        if core in _UNIGRAMS:
            lab = GAZ_FIXED.get(core) or GAZ_AMBIG[core][par]
            out.append((core, lab, starts[i], starts[i] + len(core)))
        i += 1
    return out


def ref_triples(page_id: int, text: str) -> set[tuple[str, str, str, int]]:
    """Token-adjacency SVO -> canonicalized (subj, pred, obj, subj_start)."""
    words = text.split(" ")
    starts: list[int] = []
    pos = 0
    for w in words:
        starts.append(pos)
        pos += len(w) + 1
    out = set()
    for i in range(len(words) - 2):
        s, p, o = words[i], words[i + 1], words[i + 2]
        if s in _UNIGRAMS and p in _PREDS and o in _UNIGRAMS:
            out.add(
                (
                    _BEST_ALIAS.get(s, s),
                    p,
                    _BEST_ALIAS.get(o, o),
                    starts[i],
                )
            )
    return out


# --- error analysis (reference recon/insights.py) ---------------------------
# Spans are (text, start, end, label) tuples; a document is
# (doc_id, gold_spans, pred_spans).

NOT_LABELED = "NOT_LABELED"


def top_prediction_errors(docs) -> list[tuple[str, str, str, int]]:
    """(text, true_label, pred_label, n) sorted by n desc, then text,
    true_label, pred_label. Spans are matched on (start, end): a label
    mismatch is a confusion, an unmatched pred a false positive
    (true = NOT_LABELED), an unmatched gold a false negative
    (pred = NOT_LABELED) — top_prediction_errors, insights.py:113-236."""
    counts: dict[tuple[str, str, str], int] = {}
    for _doc_id, gold, pred in docs:
        by_offsets = {(s[1], s[2]): s for s in pred}
        gold_offsets = {(s[1], s[2]) for s in gold}
        errs = []
        for text, start, end, label in gold:
            p = by_offsets.get((start, end))
            if p is None:
                errs.append((text, label, NOT_LABELED))
            elif p[3] != label:
                errs.append((text, label, p[3]))
        errs += [(s[0], NOT_LABELED, s[3]) for s in pred if (s[1], s[2]) not in gold_offsets]
        for e in errs:
            counts[e] = counts.get(e, 0) + 1
    return sorted(((*k, n) for k, n in counts.items()), key=lambda r: (-r[3], r[0], r[1], r[2]))


def _round6(x: float) -> float:
    """Round half away from zero at 6 places on the shortest decimal
    form of x, as Spark's round() does."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def get_hardest_examples(docs) -> list[tuple[int, int, float]]:
    """(doc_id, count, score) sorted by score, count, doc_id: per-doc
    PRF fscore over exact (start, end, label) matches (1.0 when either
    side is empty) minus errors / max errors, min-max normalized —
    get_hardest_examples, insights.py:239-290."""
    per_doc = []
    for doc_id, gold, pred in docs:
        g = {(s[1], s[2], s[3]) for s in gold}
        p = {(s[1], s[2], s[3]) for s in pred}
        tp = sum(1 for s in gold if (s[1], s[2], s[3]) in p)
        fn = len(gold) - tp
        fp = sum(1 for s in pred if (s[1], s[2], s[3]) not in g)
        if gold and pred:
            denom = 2 * tp + fp + fn
            fscore = 2.0 * tp / denom if denom > 0 else 0.0
        else:
            fscore = 1.0
        per_doc.append((doc_id, fp + fn, fscore))
    max_count = max((c for _, c, _ in per_doc), default=0) or 1
    raw = [(d, c, f - c / max_count) for d, c, f in per_doc]
    lo = min((r for *_, r in raw), default=0.0)
    hi = max((r for *_, r in raw), default=0.0)
    out = [(d, c, _round6((r - lo) / (hi - lo)) if hi > lo else 0.0) for d, c, r in raw]
    return sorted(out, key=lambda r: (r[2], r[1], r[0]))


# --- MinHash / SimHash hash spec (operators/dedupe.py module docstring) ----


def _shingle_hashes(text: str, hash_mode: str) -> list[int]:
    from recon_spark.operators.dedupe import P, _py_token_codes

    wc = [int(c) for c in _py_token_codes(hash_mode)(text.split(" "))]
    return [((wc[i] * 31 + wc[i + 1]) % P * 31 + wc[i + 2]) % P for i in range(len(wc) - 2)]


def ref_minhash(text: str, hash_mode: str = "wcode") -> list[int] | None:
    """minhash_i = min over shingles of (a_i * h + b_i) mod P; None for a
    text with no 3-shingle."""
    from recon_spark.operators.dedupe import PERM_A, PERM_B, P

    hs = _shingle_hashes(text, hash_mode)
    if not hs:
        return None
    return [min((a * h + b) % P for h in hs) for a, b in zip(PERM_A, PERM_B)]


def ref_simhash(text: str, hash_mode: str = "wcode") -> int:
    """Bit j set iff the shingles' votes (+1 where bit j of
    g32 = (h * 2654435761) mod 2^32 is 1, else -1) sum above 0."""
    gs = [(h * 2654435761) % (1 << 32) for h in _shingle_hashes(text, hash_mode)]
    return sum(
        1 << j for j in range(32) if sum(1 if (g >> j) & 1 else -1 for g in gs) > 0
    )
