"""Token-for-token parity of the treebank tokenizer with the reference's
C++ rule chain.

``_cpp_chain_tokenize`` below is a deliberately naive, straight-line
transcription of ``TreeBankTokenizer`` (reference
packages/docling-metrics-text/cpp/src/treebank.cpp:11-128): every pattern
is re-typed from the C++ listing in source order and applied exactly as
``RE2::GlobalReplace`` does, with RE2 semantics spelled out (ASCII
classes, ``$`` = end-of-text, ``\\s`` = ``[\\t\\n\\f\\r ]``) and the
final ``istringstream >>`` split (C-locale isspace, ASCII-only). The
engine kernel (kernels/tokenize.py) is a separate implementation with a
fast path; this file pins kernel == naive chain on hand-written fixtures
and under fuzz, so the kernel cannot drift from the reference rule
semantics.
"""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from docling_metrics_spark.kernels.tokenize import treebank_tokenize

_A = re.ASCII

# treebank.cpp:12-17
_CPP_RULES_STARTING = [
    (r"^\"", r"``"),
    (r"(``)", r" \1 "),
    (r"([ \(\[{<])(\"|\'{2})", r"\1 `` "),
]
# treebank.cpp:19-29  (RE2 `$` == \Z, RE2 `\s` == [\t\n\f\r ])
_CPP_RULES_PUNCT = [
    (r"([:,])([^\d])", r" \1 \2"),
    (r"([:,])\Z", r" \1 "),
    (r"\.\.\.", r" ... "),
    (r"[;@#$%&]", r" \g<0> "),
    (r"([^\.])(\.)([\]\)}>\"\']*)[\t\n\f\r ]*\Z", r"\1 \2\3 "),
    (r"[?!]", r" \g<0> "),
    (r"([^'])' ", r"\1 ' "),
]
# treebank.cpp:31-33
_CPP_RULE_PARENS = (r"[\]\[\(\)\{\}\<\>]", r" \g<0> ")
# treebank.cpp:35-41 (convert_parentheses branch)
_CPP_RULES_CONVERT = [
    (r"\(", "-LRB-"), (r"\)", "-RRB-"), (r"\[", "-LSB-"),
    (r"\]", "-RSB-"), (r"\{", "-LCB-"), (r"\}", "-RCB-"),
]
# treebank.cpp:43-44
_CPP_RULE_DASHES = (r"--", r" -- ")
# treebank.cpp:46-53 — note the bare ('') rule FIRST, and no NLTK
# (\S)('') rule: the C++ chain is the parity target, not NLTK.
_CPP_RULES_ENDING = [
    (r"''", " '' "),
    (r"\"", " '' "),
    (r"([^' ])('[sS]|'[mM]|'[dD]|') ", r"\1 \2 "),
    (r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", r"\1 \2 "),
]
# treebank.cpp:55-65 — note (more)('n), NOT NLTK's (mor)('n); the wanna
# rule consumes a trailing RE2-\s (RE2 has no lookahead). RE2's `(?i)`
# is Unicode SIMPLE case folding while `\b` stays ASCII — Python has no
# flag combination with that mix, so the transcript spells each folded
# letter as its RE2 fold orbit: {x, X} for ASCII letters, plus 'ſ'
# (U+017F) in the s orbit; Turkic 'ı'/'İ' do NOT fold (their
# CaseFolding.txt entries are T/F-only, which simple folding skips —
# Python's own Unicode IGNORECASE would wrongly match them).
def _orb(lit):
    t = {"s": "[sSſ]"}
    return "".join(
        t.get(c, f"[{c}{c.upper()}]") if c.isalpha() else c for c in lit
    )


_CPP_RULES_CONTRACTIONS2 = [
    rf"\b({_orb('can')})({_orb('not')})\b",
    rf"\b({_orb('d')})('{_orb('ye')})\b",
    rf"\b({_orb('gim')})({_orb('me')})\b",
    rf"\b({_orb('gon')})({_orb('na')})\b",
    rf"\b({_orb('got')})({_orb('ta')})\b",
    rf"\b({_orb('lem')})({_orb('me')})\b",
    rf"\b({_orb('more')})('{_orb('n')})\b",
    rf"\b({_orb('wan')})({_orb('na')})[\t\n\f\r ]",
]
# treebank.cpp:67-68
_CPP_RULES_CONTRACTIONS3 = [
    rf" ('{_orb('t')})({_orb('is')})\b",
    rf" ('{_orb('t')})({_orb('was')})\b",
]


def _cpp_chain_tokenize(text: str, convert_parentheses: bool = False):
    """Straight-line transcript of TreeBankTokenizer::tokenize
    (treebank.cpp:75-128), no shortcuts."""
    for pat, repl in _CPP_RULES_STARTING:
        text = re.sub(pat, repl, text, flags=_A)
    for pat, repl in _CPP_RULES_PUNCT:
        text = re.sub(pat, repl, text, flags=_A)
    text = re.sub(_CPP_RULE_PARENS[0], _CPP_RULE_PARENS[1], text, flags=_A)
    if convert_parentheses:
        for pat, repl in _CPP_RULES_CONVERT:
            text = re.sub(pat, repl, text, flags=_A)
    text = re.sub(_CPP_RULE_DASHES[0], _CPP_RULE_DASHES[1], text, flags=_A)
    text = " " + text + " "
    for pat, repl in _CPP_RULES_ENDING:
        text = re.sub(pat, repl, text, flags=_A)
    for pat in _CPP_RULES_CONTRACTIONS2:
        text = re.sub(pat, r" \1 \2 ", text, flags=_A)
    for pat in _CPP_RULES_CONTRACTIONS3:
        text = re.sub(pat, r" \1 \2 ", text, flags=_A)
    # istringstream >> : C-locale isspace split (ASCII only, incl. \v)
    return re.findall(r"[^ \t\n\v\f\r]+", text, flags=_A)


# Punctuation/quote/contraction-heavy fixtures. Expected token lists are
# hand-derived from the C++ rule chain and double-checked against the
# naive transcript; cases marked [≠NLTK] exercise exactly the places
# where the C++ chain deviates from NLTK's TreebankWordTokenizer.
FIXTURES = [
    (
        '"Hello," he said, "it\'s more\'n we\'d hoped."',
        ["``", "Hello", ",", "''", "he", "said", ",", "``", "it", "'s",
         "more", "'n", "we", "'d", "hoped", ".", "''"],
    ),
    (
        "can't won't it's we're they've I'm you'll she'd CANNOT",
        ["ca", "n't", "wo", "n't", "it", "'s", "we", "'re", "they", "'ve",
         "I", "'m", "you", "'ll", "she", "'d", "CAN", "NOT"],
    ),
    (
        "'Tis the night; 'twas the day.",
        ["'T", "is", "the", "night", ";", "'t", "was", "the", "day", "."],
    ),
    (
        "wanna gonna gotta lemme gimme d'ye cannot wanna",
        ["wan", "na", "gon", "na", "got", "ta", "lem", "me", "gim", "me",
         "d", "'ye", "can", "not", "wan", "na"],
    ),
    # [≠NLTK] the bare ('') ending rule fires on the closing '' here
    (
        "He said ''hello'' -- then left...",
        ["He", "said", "``", "hello", "''", "--", "then", "left", "..."],
    ),
    (
        "costs $3.88, not $4: cheap!",
        ["costs", "$", "3.88", ",", "not", "$", "4", ":", "cheap", "!"],
    ),
    # non-final abbreviation periods are KEPT (only the end-of-text
    # period rule exists — no sentence split in the C++ chain)
    (
        "(see [Fig. 2], {x}) <tag>",
        ["(", "see", "[", "Fig.", "2", "]", ",", "{", "x", "}", ")",
         "<", "tag", ">"],
    ),
    # [≠NLTK] C++ splits more'n (treebank.cpp:63); NLTK's mor'n pattern
    # does not exist in the C++ chain, so mor'n stays one token
    ("mor'n more'n MORE'N", ["mor'n", "more", "'n", "MORE", "'N"]),
    ("1,000 vs a,b and x:", ["1,000", "vs", "a", ",", "b", "and", "x", ":"]),
    ("don't stop' here", ["do", "n't", "stop", "'", "here"]),
    # ASCII-only classes: é/中 are opaque non-space chars (RE2 byte
    # semantics) — the mid-text period after é is not end-anchored
    ("é. 中文:test", ["é.", "中文", ":", "test"]),
    # the wanna rule fires at end-of-text thanks to the " text " padding
    ("I wanna", ["I", "wan", "na"]),
    (
        'She said, "we can\'t go." Then: silence?!',
        ["She", "said", ",", "``", "we", "ca", "n't", "go.", "''",
         "Then", ":", "silence", "?", "!"],
    ),
    (
        "semi;colon @at #hash %pct &amp",
        ["semi", ";", "colon", "@", "at", "#", "hash", "%", "pct",
         "&", "amp"],
    ),
    # RE2 (?i) Unicode simple folding: 'ſ' (U+017F) is in the s orbit,
    # so ('t)(iſ) matches — but only where the trailing \b holds: ſ is a
    # NON-word char for RE2's ASCII \b, so ſ→x is a boundary while
    # ſ→space is not (the second 'tiſ survives whole; its period is
    # split by the end-of-text punctuation rule, not the contraction)
    (" 'tiſx 'tiſ.", ["'t", "iſ", "x", "'tiſ", "."]),
    ("CANNOſ gonna", ["CANNOſ", "gon", "na"]),  # ſ≠t: cannot rule no-fire
    # Turkic ı/İ do NOT simple-fold with i — 'tİs stays whole (Python's
    # Unicode IGNORECASE would wrongly split it; RE2 does not)
    (" 'tİs 'tıs", ["'tİs", "'tıs"]),
]


def test_kernel_equals_cpp_chain_on_fixture_corpus():
    for text, expected in FIXTURES:
        got = treebank_tokenize(text)
        assert got == expected, (text, got, expected)
        assert _cpp_chain_tokenize(text) == expected, (
            text, _cpp_chain_tokenize(text), expected,
        )


def test_convert_parentheses_mode():
    text = "a (b) [c] {d}"
    expected = ["a", "-LRB-", "b", "-RRB-", "-LSB-", "c",
                "-RSB-", "-LCB-", "d", "-RCB-"]
    assert treebank_tokenize(text, convert_parentheses=True) == expected
    assert _cpp_chain_tokenize(text, convert_parentheses=True) == expected


_FUZZ_ALPHABET = st.sampled_from(
    list("ab N.\"'`,:;?!()-$%&@#<>{}[]\t\n\v") + ["can", "not", "wanna",
         "more'n", "n't", "'ll", "'s", "''", "...", "--", "'tis", "3.88",
         "é", "中", "ſ", "'tiſ", "'twaſ", "ı", "İ"]
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_FUZZ_ALPHABET, max_size=14))
def test_kernel_equals_cpp_chain_fuzz(parts):
    text = "".join(parts)
    assert treebank_tokenize(text) == _cpp_chain_tokenize(text)
    assert treebank_tokenize(text, True) == _cpp_chain_tokenize(text, True)


# --- independent ASCII cross-check of the fold-orbit rewrite ---------------
# Kernel and transcript above BOTH spell contractions as fold-orbit
# classes, so a shared mis-transcription there would pass the fuzz. For
# ASCII-only text, `(?i)` + re.ASCII is an UNAMBIGUOUS second
# implementation (folding questions only arise on non-ASCII), so pin the
# orbit-class chain against it to break the shared assumption.

_CI_CONTRACTIONS2 = [
    r"(?i)\b(can)(not)\b", r"(?i)\b(d)('ye)\b", r"(?i)\b(gim)(me)\b",
    r"(?i)\b(gon)(na)\b", r"(?i)\b(got)(ta)\b", r"(?i)\b(lem)(me)\b",
    r"(?i)\b(more)('n)\b", r"(?i)\b(wan)(na)[\t\n\f\r ]",
]
_CI_CONTRACTIONS3 = [r"(?i) ('t)(is)\b", r"(?i) ('t)(was)\b"]


def _cpp_chain_tokenize_ci(text, convert_parentheses=False):
    """_cpp_chain_tokenize with the contraction stages swapped to the
    (?i)-flag form — only valid as an oracle on ASCII-only input."""
    for pat, repl in _CPP_RULES_STARTING:
        text = re.sub(pat, repl, text, flags=_A)
    for pat, repl in _CPP_RULES_PUNCT:
        text = re.sub(pat, repl, text, flags=_A)
    text = re.sub(_CPP_RULE_PARENS[0], _CPP_RULE_PARENS[1], text, flags=_A)
    if convert_parentheses:
        for pat, repl in _CPP_RULES_CONVERT:
            text = re.sub(pat, repl, text, flags=_A)
    text = re.sub(_CPP_RULE_DASHES[0], _CPP_RULE_DASHES[1], text, flags=_A)
    text = " " + text + " "
    for pat, repl in _CPP_RULES_ENDING:
        text = re.sub(pat, repl, text, flags=_A)
    for pat in _CI_CONTRACTIONS2:
        text = re.sub(pat, r" \1 \2 ", text, flags=_A)
    for pat in _CI_CONTRACTIONS3:
        text = re.sub(pat, r" \1 \2 ", text, flags=_A)
    return re.findall(r"[^ \t\n\v\f\r]+", text, flags=_A)


_ASCII_FUZZ = st.sampled_from(
    list("abWN.\"'`,:;?!()-$%&@#<>{}[]\t\n\v ") + ["can", "NOT", "wanna",
         "more'n", "n't", "'ll", "'s", "''", "...", "--", "'tis", "'TWAS",
         "D'YE", "gim", "LEMME", "3.88"]
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_ASCII_FUZZ, max_size=14))
def test_orbit_chain_equals_ignorecase_chain_on_ascii(parts):
    text = "".join(parts)
    assert treebank_tokenize(text) == _cpp_chain_tokenize_ci(text)


# --- the kernel's rule guards ----------------------------------------------
# The kernel runs a rule only when a literal every match needs is in the
# text. Fuzz over exactly those literals (in every case the contraction
# rules fold), so a guard that is not a necessary condition shows up as a
# mismatch with the unguarded transcript.

_GUARD_FUZZ = st.sampled_from(
    list("ab T.\"'`,:;@#$%&?!()[]{}<>-\t\n\v") + [
        "``", "''", "...", "--", "' ", "n't", "N'T", "'ll", "'S",
        "cannot", "CanNot", "d'ye", "D'Ye", "gimme", "GIMME", "gonna",
        "gotta", "lemme", "more'n", "MoRe'N", "wanna", "WANNA\t",
        "'tis", "'TWAS", "'tiſ", "ſ", "İ", "K", "3.88",
    ]
)


@settings(max_examples=1500, deadline=None)
@given(st.lists(_GUARD_FUZZ, max_size=16))
def test_guarded_kernel_equals_unguarded_chain(parts):
    text = "".join(parts)
    assert treebank_tokenize(text) == _cpp_chain_tokenize(text)
    assert treebank_tokenize(text, True) == _cpp_chain_tokenize(text, True)
