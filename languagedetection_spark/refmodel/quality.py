"""Quality-filter + scrub oracle: the per-turn decision semantics.

This is OUR layer (the reference has only the language classifier); it
generalizes the reference's classifier into the quality_filter pipeline
mandated by BASELINE.json `north_rule`: per-turn language-ID, KenLM-style
character-trigram log-perplexity, heuristic rules, and compiled-regex
PII/toxicity scrubbing.  The Spark pipeline must match THIS module's
decisions per turn exactly (keep/drop F1 >= 0.99, scrubbed text equality).

Everything here is deterministic pure Python/stdlib -- it is the golden
oracle for differential tests.  Decision semantics:

drop_reason precedence (first match wins):
    too_short     len(text.strip()) < MIN_CHARS
    symbol_ratio  non-letter-non-space fraction > MAX_SYMBOL_RATIO
    repetition    >= MIN_REP_TOKENS tokens and top token freq/count > MAX_REP
    no_lang       classifier winner is None (score <= 0.0001)
    low_lang_conf winner score < MIN_LANG_CONF
    high_ppl      trigram log-perplexity under the detected language's model
                  > MAX_PPL
keep = (drop_reason is None); scrubbed_text is produced for every turn.
"""

from __future__ import annotations

import math
import re
import unicodedata
from dataclasses import dataclass

from .classifier import Vocabulary
from .tokenizer import _is_java_letter, _is_java_whitespace  # shared predicates

# ---------------------------------------------------------------------------
# Thresholds -- fixed constants of the pipeline (same values in the Spark side
# via languagedetection_spark.functions.kernels).
# ---------------------------------------------------------------------------
MIN_CHARS = 10
MAX_SYMBOL_RATIO = 0.30
MIN_REP_TOKENS = 8
MAX_REP = 0.50
MIN_LANG_CONF = 2.0
MAX_PPL = 7.5  # calibrated ~p95 of in-language trigram ppl on the fixtures

# every drop_reason value, in precedence order (see the module docstring)
DROP_REASONS = ("too_short", "symbol_ratio", "repetition", "no_lang",
                "low_lang_conf", "high_ppl")

# ---------------------------------------------------------------------------
# PII / toxicity scrub: ONE precompiled alternation, applied left-to-right,
# non-overlapping (re.sub semantics).  Pattern syntax is kept in the common
# subset of Python re / Java regex / RE2 so the Spark and DuckDB versions can
# use byte-identical patterns.
# ---------------------------------------------------------------------------
SCRUB_RULES: list[tuple[str, str]] = [
    # order matters: longer/more specific first
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("card", r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\b"),
    ("phone", r"\+?[0-9]{1,3}[ -.]?\(?[0-9]{3}\)?[ -.][0-9]{3}[ -.][0-9]{4}\b"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("url", r"https?://[^\s]+"),
]
_TOXIC_WORDS = ["frak", "gorram", "smeg", "felgercarb"]  # synthetic lexicon
SCRUB_RULES += [("toxic", r"(?i)\b(?:" + "|".join(_TOXIC_WORDS) + r")\b")]

_COMPILED_SCRUB: list[tuple[str, re.Pattern]] = [
    (name, re.compile(pat)) for name, pat in SCRUB_RULES
]


def scrub_text(text: str) -> str:
    """Apply every scrub rule in order, replacing matches with <NAME>."""
    for name, pat in _COMPILED_SCRUB:
        text = pat.sub(f"<{name.upper()}>", text)
    return text


# ---------------------------------------------------------------------------
# KenLM-style character-trigram model with add-one smoothing.
# ---------------------------------------------------------------------------

@dataclass
class TrigramModel:
    """Per-language char-trigram log-prob tables.  Trained once on the labeled
    corpus; frozen and broadcast for scoring (SURVEY §7 design stance)."""

    logprob: dict[str, dict[str, float]]   # lang -> trigram -> logp
    backoff: dict[str, float]              # lang -> unseen-trigram logp

    @staticmethod
    def _norm(text: str) -> str:
        # lower + collapse runs of whitespace; keep letters/digits/space only
        lowered = text.lower()
        kept = "".join(
            c if not _is_java_whitespace(c) else " "
            for c in lowered
            if _is_java_letter(c) or c.isdigit() or _is_java_whitespace(c)
        )
        return " ".join(kept.split())

    @classmethod
    def train(cls, rows: list[tuple[str, str]], alpha: float = 1.0) -> "TrigramModel":
        counts: dict[str, dict[str, int]] = {}
        totals: dict[str, int] = {}
        for lang, text in rows:
            norm = cls._norm(text)
            bag = counts.setdefault(lang, {})
            for i in range(len(norm) - 2):
                tri = norm[i:i + 3]
                bag[tri] = bag.get(tri, 0) + 1
                totals[lang] = totals.get(lang, 0) + 1
        logprob: dict[str, dict[str, float]] = {}
        backoff: dict[str, float] = {}
        for lang, bag in counts.items():
            # a language whose every text is < 3 normalized chars has an
            # empty bag and no totals entry: register it (empty table,
            # backoff log(alpha/alpha) = 0.0) instead of crashing -- the
            # distributed twin registers it the same way via marker rows
            total = totals.get(lang, 0)
            vsize = len(bag) + 1
            denom = total + alpha * vsize
            logprob[lang] = {
                tri: math.log((c + alpha) / denom) for tri, c in bag.items()
            }
            backoff[lang] = math.log(alpha / denom)
        return cls(logprob=logprob, backoff=backoff)

    def perplexity(self, text: str, lang: str) -> float:
        """Mean negative trigram log-prob; 0.0 when no trigrams or unknown
        language model (scored as neutral -- never triggers high_ppl)."""
        table = self.logprob.get(lang)
        if table is None:
            return 0.0
        norm = self._norm(text)
        if len(norm) < 3:
            return 0.0
        bo = self.backoff[lang]
        # math.fsum is exact -> order-independent; the Spark kernel matches
        # this bit-for-bit regardless of Arrow batch layout.
        terms = [
            table.get(norm[i:i + 3], bo) for i in range(len(norm) - 2)
        ]
        return -math.fsum(terms) / len(terms)


# ---------------------------------------------------------------------------
# Heuristic features (shared predicate definitions with the Spark kernels).
# ---------------------------------------------------------------------------

def symbol_ratio(text: str) -> float:
    """Fraction of non-letter, non-whitespace chars among all chars of the
    stripped text; 0.0 for empty."""
    stripped = text.strip()
    if not stripped:
        return 0.0
    bad = sum(
        1 for c in stripped
        if not _is_java_letter(c) and not _is_java_whitespace(c)
    )
    return bad / len(stripped)


def repetition_ratio(text: str) -> tuple[int, float]:
    """(token_count, top_token_frequency / token_count) over a simple
    lowercase whitespace split (quality heuristic -- NOT the reference
    tokenizer; this layer is ours)."""
    tokens = text.lower().split()
    if not tokens:
        return 0, 0.0
    freq: dict[str, int] = {}
    for t in tokens:
        freq[t] = freq.get(t, 0) + 1
    return len(tokens), max(freq.values()) / len(tokens)


# ---------------------------------------------------------------------------
# Full per-turn oracle.
# ---------------------------------------------------------------------------

@dataclass
class TurnDecision:
    lang: str | None
    lang_conf: float
    ppl: float
    keep: bool
    drop_reason: str | None
    scrubbed_text: str


def decide_turn(
    text: str,
    vocab: Vocabulary,
    trigrams: TrigramModel,
) -> TurnDecision:
    """The golden per-turn decision.  Language classification runs with a
    FROZEN vocabulary (adjust=False): the production filter never mutates
    state mid-scan (SURVEY §7), unlike the reference's online learning."""
    scrubbed = scrub_text(text)

    stripped = text.strip()
    lang, conf = vocab.winner_frozen(text)
    ppl = trigrams.perplexity(text, lang) if lang is not None else 0.0

    drop_reason: str | None = None
    n_tokens, rep = repetition_ratio(text)
    if len(stripped) < MIN_CHARS:
        drop_reason = "too_short"
    elif symbol_ratio(text) > MAX_SYMBOL_RATIO:
        drop_reason = "symbol_ratio"
    elif n_tokens >= MIN_REP_TOKENS and rep > MAX_REP:
        drop_reason = "repetition"
    elif lang is None:
        drop_reason = "no_lang"
    elif conf < MIN_LANG_CONF:
        drop_reason = "low_lang_conf"
    elif ppl > MAX_PPL:
        drop_reason = "high_ppl"

    return TurnDecision(
        lang=lang,
        lang_conf=conf if lang is not None else 0.0,
        ppl=ppl,
        keep=drop_reason is None,
        drop_reason=drop_reason,
        scrubbed_text=scrubbed,
    )
