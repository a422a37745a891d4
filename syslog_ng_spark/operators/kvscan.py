"""The reference-exact kv-scanner as Catalyst expressions.

Reference: lib/scanner/kv-scanner/kv-scanner.c. The scan algorithm,
replicated faithfully (its criterion suite is ported in
tests/test_kvscan_parity.py):

- KEY: find the next value-separator; walk back over spaces, then
  back over the key charset [A-Za-z0-9._-]; a nonempty run is the
  key, everything before it is a stray word (_extract_key).
- VALUE: skip leading spaces (unless a delimiter follows them); a
  leading quote starts a C-string (str-repr decode, shared with the
  template list model via functions/strrepr.py) that is ONE token; an
  unquoted value runs until a delimiter: the pair separator, or a
  space followed (after more spaces) by end-of-string or another
  key (_match_delimiter — "space is only a delimiter if a key
  follows", which is how stray words concatenate into the previous
  value). Tabs are not delimiters. pair-separator(" ") disables the
  space heuristics entirely.
- STRAY WORDS: optionally collected, str-repr-encoded, comma-joined
  (_extract_stray_word).

The whole scan compiles to regexp_extract_all + per-token column
expressions — one JVM regex pass per frame, no UDFs, so it runs at
scan speed and pushes through whole-stage codegen like any other
expression.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from syslog_ng_spark.functions.strrepr import (
    decode_c_string,
    encode_elem,
    is_well_quoted_token,
)

_KEY_CLASS = "[A-Za-z0-9._-]"

# quoted C-string token: closing quote required (an unclosed quote
# falls through to the unquoted branch — kv-scanner's quotation-error
# path copies the raw text literally)
_DQ = '"(?:\\\\.|[^"\\\\])*"'
_SQ = "'(?:\\\\.|[^'\\\\])*'"


def _master_pattern(kv_sep: str, pair_sep: str) -> str:
    """One pair = key, separator, value. (?s): unquoted values may
    carry embedded control chars incl. newlines (the scanner treats
    only spaces/separators as delimiters)."""
    s = _re.escape(kv_sep)
    if pair_sep == " ":
        # pair_separator_starts_with_a_space + len 1: every space is a
        # delimiter, no look-ahead heuristics (kv-scanner.c
        # _match_delimiter first branch)
        unq = "[^ ]*"
        delim = "(?=[ ]|\\z)"
    else:
        p = _re.escape(pair_sep)
        # stop at the pair separator (directly, or after skipped
        # spaces — the trailing rtrim eats those), or at a space
        # followed by another key; trailing spaces rtrim away
        unq = f"(?:(?!{p}|[ ]+{_KEY_CLASS}+[ ]*{s}).)*"
        delim = f"(?=[ ]|\\z|{p})"
    # a quoted token must be FOLLOWED by a delimiter or end-of-input;
    # otherwise the quotation "errors" and the raw text scans as an
    # unquoted literal (str-repr decode.c: "'alma'@korte" decodes
    # FAILED with the raw text as the value — ported in
    # tests/test_kvscan_parity.py)
    return (
        f"(?s){_KEY_CLASS}+?[ ]*{s}"
        f"(?:[ ]*{_DQ}{delim}|[ ]*{_SQ}{delim}|{unq})"
    )


def kv_scan_entries(
    col: str | Column, kv_sep: str = "=", pair_sep: str = ", "
) -> Column:
    """array<struct<key,value,was_quoted>> of every scanned pair, in
    input order (repeated keys NOT collapsed — kv_scanner_parser's
    fold applies last-wins like the nv-table)."""
    c = F.col(col) if isinstance(col, str) else col
    s = _re.escape(kv_sep)
    toks = F.regexp_extract_all(c, F.lit("(" + _master_pattern(kv_sep, pair_sep) + ")"), 1)

    key_rx = f"^({_KEY_CLASS}+?)[ ]*{s}"

    def split_token(tok: Column) -> Column:
        return F.struct(
            F.regexp_extract(tok, key_rx, 1).alias("key"),
            # _skip_initial_spaces + the trailing-space trim of unquoted
            # values (spaces only — tabs stay, they are not delimiters)
            F.regexp_replace(F.regexp_replace(tok, key_rx, ""), "^[ ]+", "").alias("lt"),
        )

    def entry(t: Column) -> Column:
        lt = t["lt"]
        # strict well-quoted test: a quotation-error token kept raw by
        # the unquoted branch can merely LOOK wrapped in quotes
        quoted = is_well_quoted_token(lt)
        unq_val = F.regexp_replace(lt, "[ ]+$", "")
        dec = decode_c_string(lt.substr(F.lit(2), F.length(lt) - 2))
        return F.struct(
            t["key"].alias("key"),
            F.when(quoted, dec).otherwise(unq_val).alias("value"),
            quoted.alias("was_quoted"),
        )

    # a lambda gets no subexpression elimination, so the key and the
    # left-trimmed value are bound once per token by a first transform
    # instead of being re-derived at each of their uses
    return F.transform(F.transform(toks, split_token), entry)


def kv_stray_words(
    col: str | Column, kv_sep: str = "=", pair_sep: str = ", "
) -> Column:
    """The scanner's stray-word register: text between pairs, trimmed
    of spaces and the pair separator, str-repr-encoded, comma-joined
    (kv-scanner.c _extract_stray_word + extract_stray_words)."""
    c = F.col(col) if isinstance(col, str) else col
    segs = F.split(c, _master_pattern(kv_sep, pair_sep))
    p = _re.escape(pair_sep)
    cleaned = F.transform(
        segs,
        lambda seg: F.regexp_replace(
            F.regexp_replace(seg, f"^(?:[ ]*{p})*[ ]*", ""), "[ ]+$", ""
        ),
    )
    return F.array_join(
        F.transform(F.filter(cleaned, lambda x: x != ""), lambda x: encode_elem(x)),
        ",",
    )


def kv_scanner_parser(
    df: DataFrame,
    col: str,
    target: str = "kv",
    kv_sep: str = "=",
    pair_sep: str = ", ",
    stray_words_target: str | None = None,
) -> DataFrame:
    """kv-parser() on the reference-exact scanner: pairs fold into a
    map (repeated keys overwrite — nv-table last-wins), and
    extract-stray-words-into() lands the encoded stray list in
    `stray_words_target`."""
    from syslog_ng_spark.operators.parsers import _fold_kv_entries

    entries = F.transform(
        kv_scan_entries(col, kv_sep, pair_sep),
        lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
    )
    out = df.withColumn(target, _fold_kv_entries(entries))
    if stray_words_target:
        out = out.withColumn(
            stray_words_target, kv_stray_words(col, kv_sep, pair_sep)
        )
    return out
