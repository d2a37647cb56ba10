"""Arrow-batch kernels: the optimized, broadcastable model + batch scorer.

This is the Spark-side counterpart of the pure oracle
(``refmodel.quality.decide_turn``).  The oracle is deliberately naive
(re-tokenizes per language); this kernel computes the SAME values with:

* one generic tokenize per text (the filter/split pipeline is language-
  independent -- only the whole-word alphabet gate differs per language,
  Language.scala:85-90),
* a per-token memo of (accepting languages, per-language vocab scores) --
  token vocabularies repeat heavily across a corpus, so amortized per-token
  cost approaches a dict hit,
* a per-char memo for the four WhitespaceIgnored languages,
* ``math.fsum`` accumulation (exact, order-independent) so results are
  bit-identical to the oracle regardless of batch/partition layout.

Differential tests (tests/test_spark_pipeline.py) assert kernel == oracle on
every fixture turn.  The kernel object is pickled once into a Spark broadcast;
``Broadcast.value`` deserializes it once per Python worker and caches it
there, so later batches on that worker reuse it and its memos.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from ..refmodel.alphabets import (
    ALPHABET, DEAD_LANGUAGES, LANGUAGES, PER_CHAR_LANGUAGES,
)
from ..refmodel.classifier import WINNER_THRESHOLD, Vocabulary
from ..refmodel.quality import (
    MAX_PPL, MAX_REP, MAX_SYMBOL_RATIO, MIN_CHARS, MIN_LANG_CONF,
    MIN_REP_TOKENS, SCRUB_RULES, TrigramModel,
)
from ..refmodel.tokenizer import (
    _is_java_letter, _is_java_whitespace, _java_strip, _JAVA_SPLIT,
)

# word-wise languages that can ever accept a token (dead languages accept
# nothing -- skipping them is exact: their score is identically 0.0)
_WORD_LANGS: list[str] = [
    l for l in LANGUAGES if l not in PER_CHAR_LANGUAGES and l not in DEAD_LANGUAGES
]
_PC_LANGS: list[str] = [l for l in LANGUAGES if l in PER_CHAR_LANGUAGES]

_GOOD_TABLE_CACHE: dict | None = None
_WORD_DEL_CACHE: dict | None = None
_PC_DEL_CACHE: dict[tuple, dict] = {}


def _word_filter_table() -> dict:
    """str.translate table deleting every BMP char the tokenizer filter
    drops (not Java-letter, not Java-whitespace, not apostrophe --
    Language.scala:88).  Exact for BMP-only strings; astral chars (which
    the filter also drops, both predicates being BMP-bounded) are unmapped
    and therefore KEPT by translate, so callers must fall back to the
    per-char path when the string contains any codepoint > 0xFFFF."""
    global _WORD_DEL_CACHE
    if _WORD_DEL_CACHE is None:
        table: dict[int, None] = {}
        for cp in range(0x10000):
            c = chr(cp)
            if not (_is_java_letter(c) or _is_java_whitespace(c) or c == "'"):
                table[cp] = None
        _WORD_DEL_CACHE = table
    return _WORD_DEL_CACHE


def _pc_filter_table(live_pc_langs: tuple[str, ...]) -> dict:
    """str.translate table deleting every BMP char that NO live per-char
    language accepts (i.e. chars whose ``_char_entry`` is provably empty).
    Astral codepoints stay unmapped -> kept -> routed through the memo,
    which returns [] for them -- so no fallback is needed on this path."""
    t = _PC_DEL_CACHE.get(live_pc_langs)
    if t is None:
        t = {}
        alphas = [ALPHABET[lang] for lang in live_pc_langs]
        for cp in range(0x10000):
            c = chr(cp)
            if not (_is_java_letter(c) and any(c in a for a in alphas)):
                t[cp] = None
        _PC_DEL_CACHE[live_pc_langs] = t
    return t


_NORM_TABLE_CACHE: dict | None = None


def _norm_filter_table() -> dict:
    """str.translate twin of ``TrigramModel._norm``'s per-char filter (on
    the ALREADY-lowered string): Java whitespace -> ' ', letters/digits
    kept, everything else deleted.  BMP-only — astral digits are kept by
    the oracle (str.isdigit) while astral letters are dropped
    (``_is_java_letter`` is BMP-bounded), so astral input falls back."""
    global _NORM_TABLE_CACHE
    if _NORM_TABLE_CACHE is None:
        table: dict[int, int | None] = {}
        for cp in range(0x10000):
            c = chr(cp)
            if _is_java_whitespace(c):
                table[cp] = 0x20
            elif not (_is_java_letter(c) or c.isdigit()):
                table[cp] = None
        _NORM_TABLE_CACHE = table
    return _NORM_TABLE_CACHE


# necessary-condition pre-check for the scrub rules: every rule's pattern
# requires '@' (email), a digit (ssn/card/phone/ipv4), the literal "http"
# (url), or a toxic word (case-insensitive).  If this single scan misses,
# no rule can match and the 7 substitution passes are skipped.
_SCRUB_QUICK = re.compile(r"[@0-9]|http|(?i:frak|gorram|smeg|felgercarb)")


def _good_char_table() -> dict:
    """str.translate table deleting every BMP char that Java counts as a
    letter or whitespace -- the complement is the symbol-ratio 'bad' set.
    Astral code points are absent, i.e. kept, i.e. bad (a Java char pair is
    two non-letter surrogates -- same verdict).  Built once per process."""
    global _GOOD_TABLE_CACHE
    if _GOOD_TABLE_CACHE is None:
        import sys
        import unicodedata

        table: dict[int, None] = {}
        for cp in range(0x10000):
            c = chr(cp)
            if unicodedata.category(c) in (
                "Lu", "Ll", "Lt", "Lm", "Lo"
            ) or _is_java_whitespace(c):
                table[cp] = None
        _GOOD_TABLE_CACHE = table
    return _GOOD_TABLE_CACHE


class FilterModel:
    """Frozen, picklable quality-filter model (vocab + trigram tables)."""

    def __init__(self, vocab: dict[str, dict[str, float]],
                 tri_logprob: dict[str, dict[str, float]],
                 tri_backoff: dict[str, float]) -> None:
        self.vocab = vocab              # lang -> word -> score
        self.tri_logprob = tri_logprob  # lang -> trigram -> logp
        self.tri_backoff = tri_backoff  # lang -> unseen logp
        self._token_memo: dict[str, list[tuple[str, float, bool]]] = {}
        self._char_memo: dict[str, list[tuple[str, str, float, bool]]] = {}
        self._scrub = [(n, re.compile(p)) for n, p in SCRUB_RULES]
        # EXACT pruning: a language with an empty vocabulary can never pass
        # the existence gate (Language.scala:60-64), so its score is
        # identically 0.0 and it can never clear the > 0.0001 winner
        # threshold -- skipping it changes nothing.
        self._live_word_langs = [
            l for l in _WORD_LANGS if vocab.get(l)
        ]
        self._live_pc_langs = [l for l in _PC_LANGS if vocab.get(l)]
        self._good_table = _good_char_table()
        self._word_del = _word_filter_table()
        self._pc_del = _pc_filter_table(tuple(self._live_pc_langs))
        self._norm_table = _norm_filter_table()

    # -- construction --------------------------------------------------------

    @classmethod
    def from_corpus(cls, rows: list[tuple[str, str]]) -> "FilterModel":
        """Build from (language, text) labeled rows: axiom vocabulary
        (op-6/14, Language.scala:45-48,322-323) + trigram tables."""
        v = Vocabulary()
        for lang, text in rows:
            v.load_labeled(lang, text)
        return cls.from_vocabulary(v, TrigramModel.train(rows))

    @classmethod
    def from_vocabulary(cls, v: Vocabulary, tm: TrigramModel) -> "FilterModel":
        vocab = {
            lang: {w: s for w, (s, _ax) in v.entries[lang].items()}
            for lang in LANGUAGES
        }
        return cls(vocab, tm.logprob, tm.backoff)

    def __getstate__(self):  # memos are per-process caches -- do not ship them
        return (self.vocab, self.tri_logprob, self.tri_backoff)

    def __setstate__(self, state):
        self.__init__(*state)

    # -- per-token memoized classification -----------------------------------

    def _token_entry(self, tok: str) -> list[tuple[str, float, bool]]:
        """[(lang, vocab_score, in_vocab)] for every word-wise language whose
        alphabet accepts *tok* (the whole-word gate, Language.scala:90)."""
        e = self._token_memo.get(tok)
        if e is None:
            e = []
            for lang in self._live_word_langs:
                alpha = ALPHABET[lang]
                ok = True
                for c in tok:
                    if c not in alpha:
                        ok = False
                        break
                if ok:
                    vs = self.vocab[lang].get(tok)
                    e.append((lang, vs if vs is not None else 0.0, vs is not None))
            if len(self._token_memo) > 2_000_000:
                self._token_memo.clear()
            self._token_memo[tok] = e
        return e

    def _char_entry(self, c: str) -> list[tuple[str, str, float, bool]]:
        """[(lang, lowered_token, vocab_score, in_vocab)] for the per-char
        languages accepting original-case char *c* (Language.scala:407-413)."""
        e = self._char_memo.get(c)
        if e is None:
            e = []
            if _is_java_letter(c):
                low = c.lower()
                for lang in self._live_pc_langs:
                    if c in ALPHABET[lang]:
                        vs = self.vocab[lang].get(low)
                        e.append((lang, low, vs if vs is not None else 0.0,
                                  vs is not None))
            if len(self._char_memo) > 1_000_000:
                self._char_memo.clear()
            self._char_memo[c] = e
        return e

    def classify_text(self, text: str) -> tuple[str | None, float]:
        """Frozen-vocab winner -- bit-identical to
        ``Vocabulary.winner_frozen`` (differentially tested)."""
        terms: dict[str, list[float]] = {}
        gated: set[str] = set()

        # word-wise languages: one generic tokenize, then per-token memo.
        # The BMP deletion table is C-speed; astral input (which the filter
        # predicates classify as plain symbols) falls back to the per-char
        # scan so semantics stay bit-identical.
        lowered = _java_strip(text).lower()
        if lowered and max(lowered) > "\uffff":
            filtered = "".join(
                ch for ch in lowered
                if _is_java_letter(ch) or _is_java_whitespace(ch) or ch == "'"
            )
        else:
            filtered = lowered.translate(self._word_del)
        for tok in _JAVA_SPLIT.split(filtered):
            if not tok:
                continue
            for lang, score, in_vocab in self._token_entry(tok):
                terms.setdefault(lang, []).append(score)
                if in_vocab:
                    gated.add(lang)

        # per-char languages: pre-drop (C-speed) every char no live
        # per-char alphabet accepts, then memo-scan the survivors
        for ch in text.translate(self._pc_del):
            for lang, _low, score, in_vocab in self._char_entry(ch):
                terms.setdefault(lang, []).append(score)
                if in_vocab:
                    gated.add(lang)

        best_lang: str | None = None
        best_score = float("-inf")
        for lang in LANGUAGES:  # declaration order; tie-break name asc
            score = math.fsum(terms[lang]) if lang in gated else 0.0
            if score > best_score or (
                score == best_score and best_lang is not None and lang < best_lang
            ):
                best_lang, best_score = lang, score
        if best_score > WINNER_THRESHOLD:
            return best_lang, best_score
        return None, best_score

    # -- quality features -----------------------------------------------------

    def perplexity(self, text: str, lang: str | None) -> float:
        if lang is None:
            return 0.0
        table = self.tri_logprob.get(lang)
        if table is None:
            return 0.0
        if text and max(text) > "\uffff":
            norm = TrigramModel._norm(text)  # astral digits: oracle path
        else:
            norm = " ".join(
                text.lower().translate(self._norm_table).split()
            )
        if len(norm) < 3:
            return 0.0
        bo = self.tri_backoff[lang]
        get = table.get
        ts = [get(norm[i:i + 3], bo) for i in range(len(norm) - 2)]
        return -math.fsum(ts) / len(ts)

    def scrub(self, text: str) -> str:
        if _SCRUB_QUICK.search(text) is None:
            return text
        for name, pat in self._scrub:
            text = pat.sub(f"<{name.upper()}>", text)
        return text

    # -- full per-text decision (mirrors refmodel.quality.decide_turn) -------

    def decide(self, text: str):
        scrubbed = self.scrub(text)
        stripped = text.strip()
        lang, conf = self.classify_text(text)
        ppl = self.perplexity(text, lang)

        tokens = text.lower().split()
        n_tokens = len(tokens)
        if n_tokens:
            rep = max(Counter(tokens).values()) / n_tokens
        else:
            rep = 0.0

        drop: str | None = None
        if len(stripped) < MIN_CHARS:
            drop = "too_short"
        else:
            n = len(stripped)
            # translate deletes every letter/whitespace char (per the Java
            # predicates); what survives is exactly the "bad" count the
            # oracle computes char-by-char
            bad = len(stripped.translate(self._good_table))
            if bad / n > MAX_SYMBOL_RATIO:
                drop = "symbol_ratio"
            elif n_tokens >= MIN_REP_TOKENS and rep > MAX_REP:
                drop = "repetition"
            elif lang is None:
                drop = "no_lang"
            elif conf < MIN_LANG_CONF:
                drop = "low_lang_conf"
            elif ppl > MAX_PPL:
                drop = "high_ppl"

        return (
            lang,
            conf if lang is not None else 0.0,
            ppl,
            drop is None,
            drop,
            scrubbed,
        )

    def decide_batch(self, texts) -> "pd.DataFrame":
        """Batch API for the pandas UDF: Series[str] in, DataFrame out."""
        import pandas as pd

        cols = {"lang": [], "lang_conf": [], "ppl": [], "keep": [],
                "drop_reason": [], "scrubbed_text": []}
        for text in texts:
            lang, conf, ppl, keep, drop, scrubbed = self.decide(
                text if isinstance(text, str) else ""
            )
            cols["lang"].append(lang)
            cols["lang_conf"].append(conf)
            cols["ppl"].append(ppl)
            cols["keep"].append(keep)
            cols["drop_reason"].append(drop)
            cols["scrubbed_text"].append(scrubbed)
        return pd.DataFrame(cols)
