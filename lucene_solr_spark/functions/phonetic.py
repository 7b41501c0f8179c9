"""Double Metaphone phonetic encoder — PhoneticFilterFactory breadth.

Reference surface (SURVEY.md §2.H phonetic analysis; path#symbol per
SURVEY convention — the mount is empty):
  lucene/analysis/phonetic/.../DoubleMetaphoneFilter.java
  (commons-codec language/DoubleMetaphone.java, Philips 2000
  "The Double Metaphone Search Algorithm", C/C++ Users Journal)

What is pinned here: the PRIMARY-code core of Double Metaphone as ONE
ordered rewrite chain (regex + translate steps) rendered from a single
rule table into BOTH engines — pyspark Columns (functions/phonetic.py ->
F.regexp_replace/F.translate, whole-stage codegen) and DuckDB SQL — so
cross-engine parity is by construction, not by luck. Input is lowercase
``[a-z]+`` terms (the rows filter the vocabulary exactly like the
Soundex row); emitted code chars are uppercase (plus '0' for TH), so a
rewritten output can never be re-consumed by a later lowercase-context
rule. Max code length 4 (the commons-codec default).

Documented deviations from full Double Metaphone (same spirit as the
pinned Soundex variant in plans/coverage2_queries.py):
  * no word-origin heuristics — the Germanic/Slavic/Italian context
    switches (SCH+er/en -> SK, Germanic G -> K, Italian CH -> K, Spanish
    J -> H) need an origin classifier; the chain always takes the
    English-primary branch. Affected classes: fischer, chemistry,
    michael, jose.
  * no alternate code — only the primary channel is emitted (the filter
    in the reference can inject both; the alternate channel would be a
    second chain).
  * GH after a vowel is always silent (right, knight); the laugh/enough
    F-class exception list is omitted.
All published vectors asserted in tests/test_phonetic_dm.py are words
where the core chain IS faithful to the reference primary code.

RE2/Java-regex common-subset discipline: no lookarounds, no pattern
backreferences; replacements use capture groups rendered as $1/$2 for
Spark and \\1/\\2 for DuckDB; run-collapse uses X{2,} literals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["double_metaphone_col", "double_metaphone_sql", "double_metaphone_py"]

# Ordered op list. ("re", pattern, repl-with-<1>-placeholders) or
# ("tr", from_chars, to_chars). Applied top to bottom, all matches.
DM_OPS: list[tuple[str, ...]] = [
    # --- initial-position exceptions -------------------------------------
    ("re", "^x", "s"),  # Xavier -> S...
    ("re", "^[kgp]n", "n"),  # knight, gnome, pneumonia
    ("re", "^wr", "r"),  # wright
    ("re", "^ps", "s"),  # psalm
    ("re", "^wh", "w"),  # white -> w...
    ("re", "^w([aeiouy])", "A<1>"),  # initial W + vowel -> A
    ("re", "^y([aeiou])", "A<1>"),  # initial Y + vowel -> A
    ("re", "^gh", "K"),  # ghost
    # --- multi-char consonant contexts (longest first) -------------------
    ("re", "cc([iey])", "KS<1>"),  # accident -> AKS...
    ("re", "sch([aeiouy])", "SK<1>"),  # school -> SK...
    ("re", "sch", "X"),  # schmidt, schneider
    ("re", "sh", "X"),  # fisher
    ("re", "th(om|am)", "T<1>"),  # thomas/thames exception
    ("re", "th", "0"),  # smith -> SM0
    ("re", "ph", "F"),  # phillip
    ("re", "^chr", "KR"),  # christ
    ("re", "ch", "X"),  # church
    ("re", "ck", "K"),
    ("re", "c([iey])", "S<1>"),  # cigar -> S...
    ("re", "dg([iey])", "J<1>"),  # edge -> AJ
    ("re", "dg", "TK"),  # edgar -> ATKR
    ("re", "([aeiouy])gh", "<1>"),  # right, knight: silent gh
    ("re", "gh", "K"),  # afghan
    ("re", "gn$", "N"),  # sign -> SN
    ("re", "g([iey])", "J<1>"),  # german soft g (English branch)
    ("re", "mb$", "M"),  # dumb -> TM
    ("re", "^h([aeiouy])", "H<1>"),  # house -> HS
    ("re", "([aeiouy])h([aeiouy])", "<1>H<2>"),  # cahill: vowel-h-vowel kept
    ("re", "w([aeiouy])", "W<1>"),  # hardware: w + vowel kept
    # --- single-consonant mappings ---------------------------------------
    ("re", "x", "KS"),  # maximum -> MKSM
    ("tr", "cqgjvzdb", "KKKJFSTP"),
    ("re", "[hwy]", ""),  # remaining h/w/y silent
    ("tr", "fklmnprst", "FKLMNPRST"),
    # --- vowels -----------------------------------------------------------
    ("re", "^[aeiou]", "A"),  # initial vowel -> A
    ("tr", "aeiou", ""),  # non-initial vowels dropped
]

# output-run collapse (apple -> APL, science -> SNS) + 4-char truncation
_DM_OUT_CHARS = "AFHJKLMNPRSTWX0"


def _collapse_ops() -> list[tuple[str, ...]]:
    return [("re", f"{c}{{2,}}", c) for c in _DM_OUT_CHARS]


def double_metaphone_col(col) -> Column:
    """Pinned Double Metaphone primary chain as a pyspark Column
    (pure built-ins: regexp_replace/translate/substring — JVM codegen)."""
    x = F.col(col) if isinstance(col, str) else col
    for op in DM_OPS + _collapse_ops():
        if op[0] == "re":
            x = F.regexp_replace(
                x, op[1], op[2].replace("<1>", "$1").replace("<2>", "$2")
            )
        else:
            x = F.translate(x, op[1], op[2])
    return F.substring(x, 1, 4)


def double_metaphone_sql(col: str) -> str:
    """The IDENTICAL chain as DuckDB SQL (RE2 dialect: \\1 replacements,
    'g' flag for replace-all)."""
    x = col
    for op in DM_OPS + _collapse_ops():
        if op[0] == "re":
            repl = op[2].replace("<1>", "\\1").replace("<2>", "\\2")
            x = f"regexp_replace({x}, '{op[1]}', '{repl}', 'g')"
        else:
            x = f"translate({x}, '{op[1]}', '{op[2]}')"
    return f"substr({x}, 1, 4)"


def double_metaphone_py(word: str) -> str:
    """Pure-Python rendering of the same chain (test oracle only)."""
    import re

    x = word
    for op in DM_OPS + _collapse_ops():
        if op[0] == "re":
            repl = op[2].replace("<1>", "\\1").replace("<2>", "\\2")
            x = re.sub(op[1], repl, x)
        elif op[2]:
            x = x.translate(str.maketrans(op[1], op[2]))
        else:
            x = x.translate(str.maketrans("", "", op[1]))
    return x[:4]


# ---------------------------------------------------------------------------
# Caverphone 2.0 — PhoneticFilterFactory encoder="Caverphone"
# (lucene/analysis/phonetic/.../PhoneticFilter.java routing to
# commons-codec language/Caverphone2.java; algorithm: David Hood,
# "Caverphone Revisited", Caversham Project technical paper, 2004).
#
# Unlike Double Metaphone, Caverphone 2.0 is DEFINED as one ordered list
# of regex replacements, so the whole published algorithm renders exactly
# into all three engines (Python re, pyspark regexp_replace chain, DuckDB
# regexp_replace(..., 'g')) from the single table below — no deviations.
# Output is always 10 chars, '1'-padded.
# ---------------------------------------------------------------------------

CAVERPHONE2_RULES: list[tuple[str, str]] = [
    ("e$", ""),
    ("^cough", "cou2f"),
    ("^rough", "rou2f"),
    ("^tough", "tou2f"),
    ("^enough", "enou2f"),
    ("^trough", "trou2f"),
    ("^gn", "2n"),
    ("mb$", "m2"),
    ("cq", "2q"),
    ("ci", "si"),
    ("ce", "se"),
    ("cy", "sy"),
    ("tch", "2ch"),
    ("c", "k"),
    ("q", "k"),
    ("x", "k"),
    ("v", "f"),
    ("dg", "2g"),
    ("tio", "sio"),
    ("tia", "sia"),
    ("d", "t"),
    ("ph", "fh"),
    ("b", "p"),
    ("sh", "s2"),
    ("z", "s"),
    ("^[aeiou]", "A"),
    ("[aeiou]", "3"),
    ("j", "y"),
    ("^y3", "Y3"),
    ("^y", "A"),
    ("y", "3"),
    ("3gh3", "3kh3"),
    ("gh", "22"),
    ("g", "k"),
    ("s+", "S"),
    ("t+", "T"),
    ("p+", "P"),
    ("k+", "K"),
    ("f+", "F"),
    ("m+", "M"),
    ("n+", "N"),
    ("w3", "W3"),
    ("wh3", "Wh3"),
    ("w$", "3"),
    ("w", "2"),
    ("^h", "A"),
    ("h", "2"),
    ("r3", "R3"),
    ("r$", "3"),
    ("r", "2"),
    ("l3", "L3"),
    ("l$", "3"),
    ("l", "2"),
    ("2", ""),
    ("3$", "A"),
    ("3", ""),
]


def caverphone2_py(word: str) -> str:
    import re

    t = re.sub("[^a-z]", "", word.lower())
    for pat, repl in CAVERPHONE2_RULES:
        t = re.sub(pat, repl, t)
    return (t + "1111111111")[:10]


def caverphone2_col(col) -> Column:
    e = F.col(col) if isinstance(col, str) else col
    e = F.regexp_replace(F.lower(e), "[^a-z]", "")
    for pat, repl in CAVERPHONE2_RULES:
        e = F.regexp_replace(e, pat, repl)
    return F.substring(F.concat(e, F.lit("1111111111")), 1, 10)


def caverphone2_sql(col: str) -> str:
    e = f"regexp_replace(lower({col}), '[^a-z]', '', 'g')"
    for pat, repl in CAVERPHONE2_RULES:
        e = f"regexp_replace({e}, '{pat}', '{repl}', 'g')"
    return f"substr({e} || '1111111111', 1, 10)"


# ---------------------------------------------------------------------------
# NYSIIS — PhoneticFilterFactory encoder="Nysiis"
# (lucene/analysis/phonetic/.../PhoneticFilter.java routing to
# commons-codec language/Nysiis.java; algorithm: Robert L. Taft, "Name
# Search Techniques", New York State Identification and Intelligence
# System, 1970).
#
# Two renderings from one spec:
#   * nysiis_py — the published algorithm verbatim: first/last-pattern
#     rewrites, then a left-to-right scan whose per-position transcode
#     mutates the buffer (so later positions see transformed context),
#     append-if-different key build, trailing S / AY / A trims, strict
#     6-char truncation. This is the TEST ORACLE.
#   * nysiis_col / nysiis_sql — the same algorithm as one ordered
#     regexp_replace chain rendered into pyspark Columns and DuckDB SQL
#     (cross-engine parity by construction, like Caverphone/DM). The
#     scan's mutated-prev semantics reduce to one rule per H/W run shape
#     (see _nysiis_stage2), so runs of any length resolve in one pass;
#     tests/test_phonetic_nysiis.py asserts chain == scan over the corpus
#     vocabulary and hypothesis-random words. First char is emitted
#     verbatim (protected as uppercase through the lowercase-context
#     rules).
# ---------------------------------------------------------------------------

_NY_VOWELS = "aeiou"
_NY_V_CLASS = "[aAEIOU]"  # transcoded vowels + protected first char

NYSIIS_FIRST: list[tuple[str, str]] = [
    ("^mac", "mcc"),
    ("^kn", "nn"),
    ("^k", "c"),
    ("^(ph|pf)", "ff"),
    ("^sch", "sss"),
]
NYSIIS_LAST: list[tuple[str, str]] = [
    ("(ee|ie)$", "y"),
    ("(dt|rt|rd|nt|nd)$", "d"),
]


def _nysiis_stage2() -> list[tuple[str, str]]:
    """Tail transcode + dedup + trailing trims, first char protected."""
    # ORDER: the scan's SCH/KN/PH checks see the RAW right-context, so
    # they must run before k->c (which manufactures c) and m->n (which
    # manufactures n) can corrupt it. SCH writes SSS over itself, and the
    # scan reads its last S as the start of the next SCH: 'schch' is one
    # S run.
    rules: list[tuple[str, str]] = [
        ("ev", "af"),
        ("[eiou]", "a"),
        ("s(ch)+", "sss"),
        ("kn", "nn"),
        ("k", "c"),
        ("ph", "ff"),
        ("q", "g"),
        ("z", "s"),
        ("m", "n"),
    ]
    # H and W are the only letters whose transcode reads the (already
    # transcoded) previous char, so each maximal [hw] run resolves from
    # the char p before it and, for a final H, from the raw char after
    # it. After a vowel p every letter of the run copies p, except a final
    # H before a vowel, which stays H. After any other p, each H copies p
    # up to the first W, and from that W on every letter is W. A copy of
    # p merges into p in the run collapse below, so copies are dropped.
    # Marker 1 is an H before a vowel (non-letters are already stripped).
    rules += [
        ("ha", "1a"),
        (f"({_NY_V_CLASS})[hw]+", "<1>"),
        ("([^aAEIOUhw1])[h1]+", "<1>"),
        ("w[hw1]+", "w"),
        ("1", "h"),
    ]
    # run collapse == the scan's append-if-different key build
    for c in "abcdfghjlnprstvwxy":
        rules.append((f"{c}{{2,}}", c))
    # the protected first char can be followed by equal lowercase output
    for c in "abcdefghijklmnopqrstuvwxyz":
        rules.append((f"^{c.upper()}{c}+", c.upper()))
    rules += [
        ("(.)s$", "<1>"),
        ("ay$", "y"),
        ("^Ay$", "Y"),
        ("(.)a$", "<1>"),
    ]
    return rules


def nysiis_py(word: str, strict: bool = True) -> str:
    """Scan-based reference implementation (the published algorithm)."""
    import re

    s = re.sub("[^a-z]", "", word.lower())
    for pat, repl in NYSIIS_FIRST + NYSIIS_LAST:
        s = re.sub(pat, repl, s, count=1)
    if not s:
        return ""
    chars = list(s)
    key = [chars[0]]

    def transcode(prev: str, curr: str, nxt: str, anxt: str) -> str:
        if curr == "e" and nxt == "v":
            return "af"
        if curr in _NY_VOWELS:
            return "a"
        if curr == "q":
            return "g"
        if curr == "z":
            return "s"
        if curr == "m":
            return "n"
        if curr == "k":
            return "nn" if nxt == "n" else "c"
        if curr == "s" and nxt == "c" and anxt == "h":
            return "sss"
        if curr == "p" and nxt == "h":
            return "ff"
        if curr == "h" and (prev not in _NY_VOWELS or nxt not in _NY_VOWELS):
            return prev
        if curr == "w" and prev in _NY_VOWELS:
            return prev
        return curr

    for i in range(1, len(chars)):
        nxt = chars[i + 1] if i + 1 < len(chars) else " "
        anxt = chars[i + 2] if i + 2 < len(chars) else " "
        t = transcode(chars[i - 1], chars[i], nxt, anxt)
        for j, c in enumerate(t):  # arraycopy: overwrite, never insert
            if i + j < len(chars):
                chars[i + j] = c
        if chars[i] != key[-1]:
            key.append(chars[i])
    out = "".join(key)
    if len(out) > 1 and out.endswith("s"):
        out = out[:-1]
    if len(out) > 1 and out.endswith("ay"):
        out = out[:-2] + "y"
    if len(out) > 1 and out.endswith("a"):
        out = out[:-1]
    out = out.upper()
    return out[:6] if strict else out


def nysiis_chain_py(word: str, strict: bool = True) -> str:
    """The regex-chain rendering in pure Python (parity tests)."""
    import re

    s = re.sub("[^a-z]", "", word.lower())
    for pat, repl in NYSIIS_FIRST + NYSIIS_LAST:
        s = re.sub(pat, repl, s, count=1)
    if not s:
        return ""
    s = s[0].upper() + s[1:]
    for pat, repl in _nysiis_stage2():
        s = re.sub(pat, repl.replace("<1>", "\\1").replace("<2>", "\\2"), s)
    s = s.upper()
    return s[:6] if strict else s


def nysiis_col(col, strict: bool = True) -> Column:
    """NYSIIS as a pyspark Column (regexp_replace chain, JVM codegen)."""
    x = F.col(col) if isinstance(col, str) else col
    x = F.regexp_replace(F.lower(x), "[^a-z]", "")
    for pat, repl in NYSIIS_FIRST + NYSIIS_LAST:
        x = F.regexp_replace(x, pat, repl)  # ^/$ anchored: first hit only
    x = F.concat(F.upper(F.substring(x, 1, 1)), F.substring(x, 2, 1 << 30))
    for pat, repl in _nysiis_stage2():
        x = F.regexp_replace(x, pat, repl.replace("<1>", "$1").replace("<2>", "$2"))
    x = F.upper(x)
    return F.substring(x, 1, 6) if strict else x


def nysiis_sql(col: str, strict: bool = True) -> str:
    """The IDENTICAL chain as DuckDB SQL."""
    x = f"regexp_replace(lower({col}), '[^a-z]', '', 'g')"
    for pat, repl in NYSIIS_FIRST + NYSIIS_LAST:
        x = f"regexp_replace({x}, '{pat}', '{repl}')"  # anchored, single
    x = f"(upper(substr({x}, 1, 1)) || substr({x}, 2))"
    for pat, repl in _nysiis_stage2():
        r = repl.replace("<1>", "\\1").replace("<2>", "\\2")
        x = f"regexp_replace({x}, '{pat}', '{r}', 'g')"
    x = f"upper({x})"
    return f"substr({x}, 1, 6)" if strict else x
