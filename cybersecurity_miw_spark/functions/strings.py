"""String helpers: tokenizer pattern construction, quote stripping,
substring-set matching.

The reference tokenizes each line on a SET of delimiter characters with
boost::char_separator — consecutive delimiters collapse and empty
tokens are dropped (reference: miw/log_format.cc:121-173), and tokens
opening with the quote character are re-joined until the closing quote
(miw/log_format.cc:138-172). Both behaviors compile to a single
`regexp_extract_all` over a token regex — JVM-side, codegen-friendly,
no UDF.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_pattern(delims: str, quotechar: str = "") -> str:
    """Regex whose successive matches are the line's tokens.

    * no quotechar: a token is a maximal run of non-delimiter chars —
      `[^D]+` — which drops empty tokens exactly like the reference's
      char_separator (miw/log_format.cc:121-137).
    * with quotechar Q, the reference's re-join pass
      (miw/log_format.cc:138-172) is: Q is only special at the START
      of a delimiter-separated run (it OPENS an accumulating token);
      the token CLOSES at the first run whose LAST char is Q (the
      opening run itself may self-close, including a lone Q); runs
      between open and close keep their actual intermediate
      delimiters; an unterminated open token takes everything through
      the last non-delimiter char. Mid-run quotes are ordinary chars
      ('a"b c"d' is TWO tokens — a"b and c"d — because neither run
      STARTS with Q). Ordered alternation, earliest-close via the
      lazy run quantifier:

        1. self-closing opening run   Q(R*Q)?(?=D|$)
        2. multi-run quoted, closed   Q[sS]*?Q(?=D|$)  — char-wise
           lazy, so the close is the EARLIEST Q sitting at a run end
           (a block-structured lazy form would expand blocks before
           backtracking an inner greedy run and close too late)
        3. unterminated open          QR*(D+R+)*
        4. bare run (not Q-initial)   [^DQ]R*

      Known divergence (documented, golden-pinned in
      tests/test_tokenizer_reference_model.py): with CONSECUTIVE
      delimiters ahead of an open quote, the reference re-reads
      intermediate delimiters via a byte offset that assumes exactly
      one delimiter per boundary (miw/log_format.cc:144-151), so its
      rejoined token drops/corrupts those delimiters
      ('a  "b c"' → '"bc"'); this engine preserves the actual text
      ('"b c"').
    """
    d = "".join(re.escape(c) for c in set(delims))
    if not quotechar:
        return f"[^{d}]+"
    q = re.escape(quotechar)
    R = f"[^{d}]"       # non-delimiter (quotes included: mid-run Qs
    # are ordinary chars)
    D = f"[{d}]"
    bare_head = f"[^{d}{q}]"
    return (
        f"{q}(?:{R}*{q})?(?={D}|$)"
        f"|{q}[\\s\\S]*?{q}(?={D}|$)"
        f"|{q}{R}*(?:{D}+{R}+)*"
        f"|{bare_head}{R}*"
    )


def tokenize(col: Column, delims: str, quotechar: str = "") -> Column:
    """Split a line column into an array of tokens (reference P1/P2/P3
    semantics: delimiter-set split, empty-token collapse, quote
    re-joining)."""
    return F.regexp_extract_all(col, F.lit(token_pattern(delims, quotechar)), 0)


def strip_quotes(col: Column) -> Column:
    """Remove every double-quote char from a token — the reference does
    this to ALL tokens unconditionally (miw/log_format.cc:272-275)."""
    return F.regexp_replace(col, '"', "")


def chomp(col: Column) -> Column:
    """Trim surrounding whitespace (reference chomp_cpp,
    miw/log_format.cc:79-98)."""
    return F.trim(col)


def contains_any(col: Column, values: list[str], exact: bool = False) -> Column:
    """Membership/substring test against a small value set.

    exact: ``col IN (values)`` (miw/log_format.cc:330-338);
    else: ``col`` contains ANY value as a substring
    (miw/log_format.cc:341-367) — compiled to one RLIKE alternation of
    escaped literals so it stays a single JVM regex evaluation. For
    large sets prefer a broadcast semi-join (operators.matching).
    """
    if not values:
        return F.lit(False)
    if exact:
        return col.isin(values)
    alternation = "|".join(re.escape(v) for v in values)
    return col.rlike(alternation)


def contains_all(col: Column, values: list[str]) -> Column:
    """``col`` contains EVERY value as a substring — the reference's
    positive AND-logic / key-field substring match returns NULL (drops
    the row) on the first non-contained value
    (miw/log_format.cc:341-353)."""
    if not values:
        return F.lit(False)
    cond = col.contains(values[0])
    for v in values[1:]:
        cond = cond & col.contains(v)
    return cond


def ua_browser(col: Column) -> Column:
    """Browser family from a User-Agent string — the precedence chain
    real UAs require (Edge embeds "Chrome", Chrome embeds "Safari",
    Opera embeds both; IE 11 drops "MSIE" for "Trident"):
    Edg > OPR/Opera > Chrome > Safari > Firefox > MSIE/Trident > bot
    heuristic. Pure JVM when/rlike chain; unknown → 'other',
    null-safe."""
    c = F.coalesce(col, F.lit(""))
    return (
        F.when(c.rlike(r"Edg(e|A|iOS)?/"), "edge")
        .when(c.rlike(r"(OPR|Opera)/"), "opera")
        .when(c.rlike(r"Chrome/"), "chrome")
        .when(c.rlike(r"Safari/") & c.rlike(r"Version/"), "safari")
        .when(c.rlike(r"Firefox/"), "firefox")
        .when(c.rlike(r"MSIE |Trident/"), "ie")
        .when(
            c.rlike(r"(?i)(bot|crawler|spider|curl|wget|python-requests)"),
            "bot",
        )
        .otherwise("other")
    )


def ua_os(col: Column) -> Column:
    """OS family from a User-Agent string. iOS before Mac (iPhone UAs
    say "like Mac OS X"), Android before Linux (Android UAs say
    "Linux")."""
    c = F.coalesce(col, F.lit(""))
    return (
        F.when(c.rlike(r"iPhone|iPad|iPod"), "ios")
        .when(c.rlike(r"Android"), "android")
        .when(c.rlike(r"Windows NT"), "windows")
        .when(c.rlike(r"Mac OS X"), "macos")
        .when(c.rlike(r"Linux|X11"), "linux")
        .otherwise("other")
    )


def ua_browser_version(col: Column) -> Column:
    """Major version of the detected browser family (the number after
    its own product token — NOT the first version in the string,
    which for Chrome UAs would be the AppleWebKit build). NULL when
    no family token carries a version."""
    c = F.coalesce(col, F.lit(""))
    fam = ua_browser(col)
    raw = (
        F.when(fam == "edge", F.regexp_extract(c, r"Edg[eAiOS]*/(\d+)", 1))
        .when(fam == "opera", F.regexp_extract(c, r"(?:OPR|Opera)/(\d+)", 1))
        .when(fam == "chrome", F.regexp_extract(c, r"Chrome/(\d+)", 1))
        .when(fam == "safari", F.regexp_extract(c, r"Version/(\d+)", 1))
        .when(fam == "firefox", F.regexp_extract(c, r"Firefox/(\d+)", 1))
        .when(
            fam == "ie",
            F.coalesce(
                F.nullif(F.regexp_extract(c, r"MSIE (\d+)", 1), F.lit("")),
                # Trident/7.0 == IE 11
                F.when(c.rlike(r"Trident/7"), F.lit("11")).otherwise(F.lit("")),
            ),
        )
        .otherwise(F.lit(""))
    )
    return F.nullif(raw, F.lit(""))
