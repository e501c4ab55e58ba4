"""Porter2 (Snowball English) stemmer — pure Python, from the published
algorithm description (snowballstem.org "The English (Porter2) stemming
algorithm"; M.F. Porter, 2001 revision).

The reference BM25 content filter stems by default
(/root/reference/crawl4ai/content_filter_strategy.py:23,408 —
``from snowballstemmer import stemmer``, ``use_stemming: bool = True``,
applied per word before clean_tokens at :485-504). That library isn't
in this environment, so the algorithm is implemented here from its
public specification; behavior is pinned by the spec's own worked
examples in tests/test_stemmer.py.
"""

from __future__ import annotations

from functools import lru_cache

VOWELS = set("aeiouy")
DOUBLES = {"bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt"}
LI_ENDING = set("cdeghkmnrt")

_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    # invariant forms
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EXCEPTIONS_1A = {
    "inning", "outing", "canning", "herring", "earring", "proceed",
    "exceed", "succeed",
}

_STEP2 = [
    ("ization", "ize"), ("ational", "ate"), ("ousness", "ous"),
    ("iveness", "ive"), ("fulness", "ful"), ("lessli", "less"),
    ("biliti", "ble"), ("entli", "ent"), ("ation", "ate"),
    ("alism", "al"), ("aliti", "al"), ("ousli", "ous"),
    ("iviti", "ive"), ("fulli", "ful"), ("enci", "ence"),
    ("anci", "ance"), ("abli", "able"), ("izer", "ize"),
    ("ator", "ate"), ("alli", "al"), ("bli", "ble"),
]
_STEP3 = [
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
    ("ness", ""), ("ful", ""),
]
_STEP4 = [
    "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
    "ism", "ate", "iti", "ous", "ive", "ize", "al", "er", "ic",
]


def _is_vowel(word: str, i: int) -> bool:
    return word[i] in VOWELS


def _regions(word: str) -> tuple[int, int]:
    """R1/R2 start offsets (R1 = after the first vowel+non-vowel pair,
    with the gener-/commun-/arsen- prefix special case)."""
    n = len(word)
    r1 = n
    for prefix in ("gener", "commun", "arsen"):
        if word.startswith(prefix):
            r1 = len(prefix)
            break
    else:
        for i in range(1, n):
            if not _is_vowel(word, i) and _is_vowel(word, i - 1):
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if not _is_vowel(word, i) and _is_vowel(word, i - 1):
            r2 = i + 1
            break
    return r1, r2


def _ends_short_syllable(word: str) -> bool:
    """(a) non-vowel + vowel + non-vowel(not w/x/Y) at the end, or
    (b) word is exactly vowel + non-vowel."""
    n = len(word)
    if n == 2:
        return _is_vowel(word, 0) and not _is_vowel(word, 1)
    if n >= 3:
        c = word[-1]
        return (
            not _is_vowel(word, n - 3)
            and _is_vowel(word, n - 2)
            and (c not in VOWELS and c not in "wxY")
        )
    return False


def _is_short(word: str, r1: int) -> bool:
    return r1 >= len(word) and _ends_short_syllable(word)


def _has_vowel(word: str, end: int) -> bool:
    return any(_is_vowel(word, i) for i in range(end))


# a page's vocabulary is small next to its token count (BM25 stems
# every token of every block), and stem_word is pure
@lru_cache(maxsize=1 << 16)
def stem_word(word: str) -> str:
    """Stem one lowercase word (mixed case is lowered first)."""
    word = word.lower()
    if len(word) <= 2:
        return word
    if word[0] == "'":
        word = word[1:]
    if word in _EXCEPTIONS:
        return _EXCEPTIONS[word]
    # mark consonant-y as Y, left-to-right against the POST-marking
    # previous char: in 'sayyes' the first y becomes Y (after vowel a),
    # so the second y follows consonant Y and must stay a vowel y
    chars = list(word)
    if chars and chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in VOWELS:
            chars[i] = "Y"
    word = "".join(chars)
    r1, r2 = _regions(word)

    # Step 0: 's' / 's / '
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # Step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith(("ied", "ies")):
        word = word[:-2] if len(word) > 4 else word[:-1]
    elif word.endswith(("us", "ss")):
        pass
    elif word.endswith("s"):
        if _has_vowel(word, len(word) - 2):
            word = word[:-1]
    if word in _EXCEPTIONS_1A:
        return word.replace("Y", "y")

    # Step 1b
    if word.endswith(("eed", "eedly")):
        suf = "eedly" if word.endswith("eedly") else "eed"
        if len(word) - len(suf) >= r1:
            word = word[: -len(suf)] + "ee"
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem = word[: -len(suf)]
                if _has_vowel(stem, len(stem)):
                    word = stem
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word[-2:] in DOUBLES:
                        word = word[:-1]
                    elif _is_short(word, r1):
                        word += "e"
                break

    # Step 1c: y -> i after a non-vowel that isn't the first letter
    if (
        len(word) > 2
        and word[-1] in "yY"
        and word[-2] not in VOWELS
    ):
        word = word[:-1] + "i"

    # Step 2 (suffix found in R1)
    for suf, rep in _STEP2:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ogi"):
            if len(word) - 3 >= r1 and word[-4:-3] == "l":
                word = word[:-1]
        elif word.endswith("li"):
            if len(word) - 2 >= r1 and word[-3:-2] and word[-3] in LI_ENDING:
                word = word[:-2]

    # Step 3 (suffix found in R1; 'ative' needs R2)
    for suf, rep in _STEP3:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ative") and len(word) - 5 >= r2:
            word = word[:-5]

    # Step 4 (suffix found in R2)
    for suf in _STEP4:
        if word.endswith(suf):
            if len(word) - len(suf) >= r2:
                word = word[: -len(suf)]
            break
    else:
        if word.endswith(("sion", "tion")) and len(word) - 3 >= r2:
            word = word[:-3]

    # Step 5
    if word.endswith("e"):
        stem = word[:-1]
        if len(word) - 1 >= r2 or (
            len(word) - 1 >= r1 and not _ends_short_syllable(stem)
        ):
            word = stem
    elif word.endswith("ll") and len(word) - 1 >= r2:
        word = word[:-1]

    return word.replace("Y", "y")


def stem_words(words: list[str]) -> list[str]:
    return [stem_word(w) for w in words]
