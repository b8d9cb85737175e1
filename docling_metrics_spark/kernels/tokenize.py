"""Treebank word tokenizer — bit-exact re-expression of the reference's
C++ rule chain.

The reference's Python path tokenizes with NLTK ``word_tokenize`` (Punkt +
TreebankWordTokenizer); its C++ fast path re-implements the Treebank rules
as an ordered RE2 replace chain and deliberately omits the sentence split
(reference: packages/docling-metrics-text/cpp/src/treebank.cpp:11-128 and
the TODO at cpp/src/text_manager.cpp:14-19). This module transcribes that
C++ chain rule-for-rule — same patterns, same order, same replacements —
so the engine's tokenization is token-for-token identical to the
reference's C++ mode (which differs from NLTK in three ways the chain
makes explicit below: the ``('')`` ending-quote rule, the absence of
NLTK's ``(\\S)('')`` rule, and ``more'n`` instead of ``mor'n``).

RE2-vs-Python-`re` semantics are mirrored explicitly:

- RE2 character classes (``\\b \\d \\w``) are ASCII-only → every pattern
  is compiled with ``re.ASCII``.
- RE2 ``(?i)`` is Unicode SIMPLE case folding (so ``s`` folds with
  ``ſ`` U+017F, but ``i`` does NOT fold with Turkic ``ı``/``İ``), while
  its ``\\b`` stays ASCII — neither of Python's flag sets reproduces
  that mix, so folded literals are spelled as explicit fold-orbit
  classes (:func:`_ci`) and ``(?i)`` is never used.
- RE2 ``$`` matches end-of-text only (no final-newline magic) → ``\\Z``.
- RE2 ``\\s`` is ``[\\t\\n\\f\\r ]`` (NO vertical tab) → spelled out.
- ``\\0`` (whole match) in RE2 replacements → ``\\g<0>``.
- Each rule runs only when its guard — a literal every match contains —
  is in the text; order and patterns are unchanged, so the guards skip
  work, never change a token (``tests/test_tokenize_parity.py`` fuzzes the
  guarded kernel against the unguarded transcript).
- The C++ final split (``istringstream >>``) splits on C-locale isspace
  ``[ \\t\\n\\v\\f\\r]`` (WITH vertical tab, unlike RE2's ``\\s``) and
  treats multi-byte UTF-8 as opaque non-space bytes → an explicit ASCII
  whitespace split, never ``str.split()`` (which splits on Unicode
  spaces the C++ keeps inside tokens).
"""

from __future__ import annotations

import re

_A = re.ASCII

# Each rule is (pattern, replacement, guard): the rule runs only when one
# of the guard's literals is in the text, a condition every match needs
# (most rules never match most texts, and `in` is far cheaper than a
# regex scan). Order and patterns are the C++ chain's.

# treebank.cpp:12-17 — starting quotes.
_STARTING_QUOTES = [
    (re.compile(r"^\"", _A), r"``", ('"',)),
    (re.compile(r"(``)", _A), r" \1 ", ("``",)),
    (re.compile(r"([ \(\[{<])(\"|\'{2})", _A), r"\1 `` ", ('"', "''")),
]

# treebank.cpp:19-29 — punctuation.
_PUNCTUATION = [
    (re.compile(r"([:,])([^\d])", _A), r" \1 \2", (":", ",")),
    (re.compile(r"([:,])\Z", _A), r" \1 ", (":", ",")),
    (re.compile(r"\.\.\.", _A), r" ... ", ("...",)),
    (re.compile(r"[;@#$%&]", _A), r" \g<0> ", tuple(";@#$%&")),
    # Final period (possibly followed by closing brackets/quotes) at the
    # end of the text; RE2 `\s*$` = ASCII-space run to end-of-text.
    (re.compile(r"([^\.])(\.)([\]\)}>\"\']*)[\t\n\f\r ]*\Z", _A), r"\1 \2\3 ",
     (".",)),
    (re.compile(r"[?!]", _A), r" \g<0> ", ("?", "!")),
    (re.compile(r"([^'])' ", _A), r"\1 ' ", ("' ",)),
]

# treebank.cpp:31-33 — parentheses and brackets.
_PARENS_BRACKETS = [
    (re.compile(r"[\]\[\(\)\{\}\<\>]", _A), r" \g<0> ", tuple("[](){}<>")),
]

# treebank.cpp:35-41 — optional PTB bracket-token conversion (the
# reference's default is convert_parentheses=false, treebank.h:25).
_CONVERT_PARENTHESES = [
    (re.compile(r"\(", _A), "-LRB-", ("(",)),
    (re.compile(r"\)", _A), "-RRB-", (")",)),
    (re.compile(r"\[", _A), "-LSB-", ("[",)),
    (re.compile(r"\]", _A), "-RSB-", ("]",)),
    (re.compile(r"\{", _A), "-LCB-", ("{",)),
    (re.compile(r"\}", _A), "-RCB-", ("}",)),
]

# treebank.cpp:43-44 — double dashes.
_DOUBLE_DASHES = [(re.compile(r"--", _A), r" -- ", ("--",))]

# treebank.cpp:46-53 — ending quotes, in the C++ order: the bare `('')`
# rule runs FIRST (NLTK instead has a `(\S)('')` rule later — the C++
# chain is the parity target here, not NLTK).
_ENDING_QUOTES = [
    (re.compile(r"''", _A), " '' ", ("''",)),
    (re.compile(r"\"", _A), " '' ", ('"',)),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') ", _A), r"\1 \2 ", ("'",)),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) ", _A), r"\1 \2 ",
     ("'",)),
]

# RE2 `(?i)` performs Unicode SIMPLE case folding (CaseFolding.txt C+S
# entries) even though its \b/\w stay ASCII — so the reference's
# case-insensitive contraction rules fold 'ſ' (U+017F) into the s orbit
# but do NOT fold 'ı'/'İ' (Turkic-only fold entries). The other non-ASCII
# simple fold of an ASCII letter, the Kelvin sign U+212A in the k orbit,
# needs no entry: no contraction literal contains 'k'. Python can't mix
# ASCII \b with Unicode folding in one compiled flag set, and Python's
# own Unicode IGNORECASE OVER-folds (it matches ı/İ with i, per the re
# docs) — so each folded literal is spelled as its exact RE2 fold orbit
# and the patterns compile with re.ASCII and NO IGNORECASE.
_FOLD_ORBITS = {"s": "sSſ"}


def _ci(literal: str) -> str:
    """``literal`` as a regex matching RE2's (?i) simple-fold semantics."""
    out = []
    for ch in literal:
        if ch.isalpha() and ch.isascii():
            out.append("[" + _FOLD_ORBITS.get(ch, ch + ch.upper()) + "]")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def _contraction(head: str, tail: str, end: str = r"\b") -> tuple:
    """A case-insensitive ``\\b(head)(tail)`` rule, guarded by the
    lowercased literal: any fold-orbit match lowercases to it (the
    literals hold no 's' or 'k', the letters with non-ASCII orbits), and
    the earlier contraction rules only insert spaces, so one lowercased
    copy of the text serves the whole stage."""
    return (re.compile(rf"\b({_ci(head)})({_ci(tail)}){end}", _A),
            " \\1 \\2 ", (head + tail,))


# treebank.cpp:55-65 — contractions, case-insensitive, replacement
# " \1 \2 ". Note `more'n` (the C++ pattern), not NLTK's `mor'n`; and the
# wanna rule CONSUMES a trailing RE2-\s (no lookahead in RE2).
_CONTRACTIONS2 = [
    _contraction("can", "not"),
    _contraction("d", "'ye"),
    _contraction("gim", "me"),
    _contraction("gon", "na"),
    _contraction("got", "ta"),
    _contraction("lem", "me"),
    _contraction("more", "'n"),
    _contraction("wan", "na", "[\\t\\n\\f\\r ]"),
]

# treebank.cpp:67-68.
_CONTRACTIONS3 = [
    (re.compile(rf" ({_ci(chr(39) + 't')})({_ci('is')})\b", _A), r" \1 \2 ", ("'",)),
    (re.compile(rf" ({_ci(chr(39) + 't')})({_ci('was')})\b", _A), r" \1 \2 ", ("'",)),
]

# istringstream `>>` split set: C-locale isspace (includes \v, which
# RE2's \s does not — both faithfully mirrored).
_SPLIT_RE = re.compile(r"[^ \t\n\v\f\r]+", _A)

# Texts containing only ASCII word characters and plain whitespace can
# only be touched by the apostrophe-free contraction rules
# (cannot/gimme/gonna/gotta/lemme/wanna); everything else anchors on
# punctuation or quotes. When neither applies, tokenization degenerates
# to the whitespace split.
_NO_RULE_RE = re.compile(r"[A-Za-z0-9 \n\t]*\Z", _A)
_PLAIN_CONTRACTIONS = {"cannot", "gimme", "gonna", "gotta", "lemme", "wanna"}


def treebank_tokenize(text: str, convert_parentheses: bool = False) -> list[str]:
    """Tokenize ``text`` into Penn-Treebank-style word tokens.

    Deterministic, pure Python, no sentence split — rule-for-rule the
    reference's ``TreeBankTokenizer::tokenize``
    (cpp/src/treebank.cpp:75-128)."""
    if text is None:
        return []
    if not convert_parentheses and _NO_RULE_RE.match(text):
        toks = text.split()
        if not any(t.lower() in _PLAIN_CONTRACTIONS for t in toks):
            # fast path: no rule can fire — same result as the full chain
            # (asserted against the chain in tests/test_tokenize_parity.py)
            return toks
    text = _apply(_STARTING_QUOTES, text)
    text = _apply(_PUNCTUATION, text)
    text = _apply(_PARENS_BRACKETS, text)
    if convert_parentheses:
        text = _apply(_CONVERT_PARENTHESES, text)
    text = _apply(_DOUBLE_DASHES, text)
    # treebank.cpp:103 — pad so end-anchored quote/contraction rules fire.
    text = _apply(_ENDING_QUOTES, " " + text + " ")
    text = _apply(_CONTRACTIONS2, text, text.lower())
    text = _apply(_CONTRACTIONS3, text)
    return _SPLIT_RE.findall(text)


def _apply(rules: list, text: str, guarded: str | None = None) -> str:
    """Run ``rules`` in order; a rule runs when one of its guard literals
    is in ``guarded`` (the current text unless given)."""
    for pat, repl, guard in rules:
        for lit in guard:
            if lit in (text if guarded is None else guarded):
                text = pat.sub(repl, text)
                break
    return text
