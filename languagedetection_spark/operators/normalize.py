"""Unicode text normalization: NFC + control-char strip + whitespace
collapse to single spaces + trim, map-only over Arrow batches.

Python's ``str.isspace()`` and RE2's ``\\s`` disagree off-ASCII (NBSP,
ideographic space), so ONE whitespace / control-char inventory (codepoint
ranges) is the contract: the Python kernel's regex class and the RE2
pattern of the DuckDB twin are both derived from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

WS_RANGES = [
    (0x09, 0x0D), (0x1C, 0x1F), (0x20, 0x20), (0x85, 0x85), (0xA0, 0xA0),
    (0x1680, 0x1680), (0x2000, 0x200A), (0x2028, 0x2029), (0x202F, 0x202F),
    (0x205F, 0x205F), (0x3000, 0x3000),
]
CTRL_RANGES = [(0x00, 0x08), (0x0E, 0x1B), (0x7F, 0x7F)]


def py_class(ranges) -> str:
    return "".join(
        chr(a) + "-" + chr(b) if b > a else chr(a) for a, b in ranges
    )


def re2_class(ranges) -> str:
    return "".join(
        f"\\x{{{a:x}}}-\\x{{{b:x}}}" if b > a else f"\\x{{{a:x}}}"
        for a, b in ranges
    )


def normalize_text_py(text):
    """Reference kernel: strip control chars -> NFC -> collapse the
    explicit whitespace inventory to single spaces -> trim.

    Controls are stripped BEFORE NFC for two reasons: DuckDB's
    nfc_normalize (utf8proc) truncates at an embedded NUL (found by the
    hypothesis fuzz: nfc_normalize('\x00X') = ''), and a control char
    between a base char and its combining mark would otherwise block
    composition -- strip-first yields the canonical composed form."""
    import re
    import unicodedata

    if text is None:
        return None
    t = re.sub(f"[{py_class(CTRL_RANGES)}]", "", text)
    t = unicodedata.normalize("NFC", t)
    t = re.sub(f"[{py_class(WS_RANGES)}]+", " ", t)
    return t.strip(" ")


def normalize_text_df(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Unicode text normalization (NFC + control strip + whitespace
    collapse) -- the first stage of any real training-data pipeline,
    map-only over Arrow batches.  `changed` marks rows the normalization
    actually altered (NULL-safe: NULL text -> NULL norm, changed=false)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            norms, changed = [], []
            for text in pdf[text_col]:
                t = text if isinstance(text, str) else None
                n = normalize_text_py(t)
                norms.append(n)
                changed.append(n != t if t is not None else False)
            yield pd.DataFrame({
                "doc_id": pdf[id_col], "norm_text": norms,
                "changed": changed,
            })

    return docs.mapInPandas(
        run, schema="doc_id long, norm_text string, changed boolean"
    )
