"""Text normalization primitives (SURVEY.md §2.7 T1–T11).

Each primitive is plain Python, used on the driver to build the
broadcast dictionary and inside Arrow-batched pandas UDFs (vectorized
over batches, never per-row Spark Python UDFs).

Semantics re-expressed from the reference (phenobert/utils/util.py:
processStr 708-719, strip_accents 698-705, isNum 722-731, simplify
239-252, sorted-bag key 326/415, negation 767-770, spliters 758-764).
One deliberate deviation, documented in README: accent folding here is
*length-preserving* (per-char NFD fold) so char offsets always index
the raw ``content`` column — the per-row sha256(content) invariant and
gold-annotation offsets both refer to the raw text.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

# --- T1: type-notation regex ("B-12" -> "B12"); same PCRE works in Java.
TYPE_NOTATION_RE = re.compile(r"(?<=[A-Z])-(?=[\d])")

# --- T3: punctuation -> space (reference char class, util.py:715).
PUNCT_RE = re.compile(r"[-_\"'\\\t\r\n‘’]")
# Document-level variant (util.py:887-889): newlines are NOT spaced out —
# they become sentence breaks via NEWLINE_RE below.
PUNCT_TEXT_RE = re.compile(r"[-_\"'\\\t‘’]")

# --- T4: newline after a word char -> sentence break (util.py:889).
NEWLINE_RE = re.compile(r"(?<=[\w])[\r\n]")

# Word tokenizer: runs of word chars, or a single non-space symbol.
TOKEN_RE = re.compile(r"[A-Za-z0-9]+|[^\sA-Za-z0-9]")

# Clause spliters (util.py:758-764 derives them from POS-tagged NLTK
# stopwords {CC,WP,TO,WDT} + punctuation; pinned here for determinism).
SPLITERS = frozenset(
    {
        "and", "or", "but", "nor", "to", "which", "who", "whom", "that",
        "while", "whether", "both", "either", "neither",
        ",", ".", ":", ";", "(", ")", "[", "]", "/",
    }
)

# Negation cue words (util.py:767-770, verbatim 12-word set semantics).
NEGATIVE_WORDS = frozenset(
    {
        "no", "not", "none", "negative", "non", "never", "few", "lower",
        "fewer", "less", "barely", "normal",
    }
)

# NLTK English stopword list (public domain list; reference uses
# nltk.corpus.stopwords.words("english") for PhraseItem.simplify,
# util.py:230/249). Pinned inline for a standalone, deterministic build.
NLTK_STOPWORDS = frozenset(
    """a about above after again against all am an and any are aren't as at be
because been before being below between both but by can't cannot could
couldn't did didn't do does doesn't doing don't down during each few for from
further had hadn't has hasn't have haven't having he he'd he'll he's her here
here's hers herself him himself his how how's i i'd i'll i'm i've if in into
is isn't it it's its itself let's me more most mustn't my myself no nor not
of off on once only or other ought our ours ourselves out over own same
shan't she she'd she'll she's should shouldn't so some such than that that's
the their theirs them themselves then there there's these they they'd they'll
they're they've this those through to too under until up very was wasn't we we'd
we'll we're we've were weren't what what's when when's where where's which
while who who's whom why why's with won't would wouldn't you you'd you'll
you're you've your yours yourself yourselves""".split()
)

_ONES = (
    "zero one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen seventeen eighteen nineteen".split()
)
_TENS = "twenty thirty forty fifty sixty seventy eighty ninety".split()


def _build_num2word() -> dict[str, str]:
    """Digit-string -> word map (semantics of data/NUM.txt, util.py:215-221)."""
    out: dict[str, str] = {}
    for i in range(20):
        out[str(i)] = _ONES[i]
    for t, word in enumerate(_TENS):
        out[str((t + 2) * 10)] = word
        for u in range(1, 10):
            out[str((t + 2) * 10 + u)] = f"{word} {_ONES[u]}"
    out["100"] = "one hundred"
    return out


NUM2WORD = _build_num2word()


# ---------------------------------------------------------------------------
# Python forms (driver-side dictionary build + pandas-UDF internals)
# ---------------------------------------------------------------------------

def strip_accents_keep_len(s: str) -> str:
    """T2, length-preserving variant: fold each char to its base char."""
    if s.isascii():
        return s
    out = []
    for ch in s:
        decomp = unicodedata.normalize("NFD", ch)
        base = "".join(c for c in decomp if unicodedata.category(c) != "Mn")
        out.append(base[0] if base else " ")
    return "".join(out)


def process_str(s: str) -> list[str]:
    """T1+T2+T3 pipeline -> lowercase token list (util.py:708-719)."""
    s = TYPE_NOTATION_RE.sub("", s)
    s = strip_accents_keep_len(s.lower())
    s = PUNCT_RE.sub(" ", s)
    return s.strip().split()


def is_num(s: str) -> bool:
    if s.isalpha():  # fast path: the overwhelmingly common case
        return False
    try:
        float(s)
        return True
    except ValueError:
        return False


# Irregular Latin/Greek plurals common in clinical text. WordNet (the
# reference's lemmatizer, util.py:25) resolves these from its exception
# lists; this pinned table is the deterministic stand-in.
_IRREGULAR_PLURALS = {
    "nevi": "nevus", "naevi": "nevus", "fungi": "fungus",
    "septa": "septum", "ganglia": "ganglion", "phalanges": "phalanx",
    "testes": "testis", "diverticula": "diverticulum",
    "foramina": "foramen", "atria": "atrium", "crises": "crisis",
    "feet": "foot", "teeth": "tooth",
    # Latin -us nouns whose plural ends in -uses: the default rule
    # strips only the final 's' ("sinuses" -> "sinuse"), so singular
    # and plural never meet in lemma space. A general -uses rule would
    # break English e-stems ("causes" -> "caus"); the clinical set is
    # small and closed, so it is pinned.
    "sinuses": "sinus", "fetuses": "fetus", "foetuses": "fetus",
    "viruses": "virus", "calluses": "callus", "plexuses": "plexus",
    "meatuses": "meatus", "anuses": "anus",
    # Latin -us -> -i plurals.
    "nuclei": "nucleus", "villi": "villus", "alveoli": "alveolus",
    "bronchi": "bronchus", "calculi": "calculus", "canthi": "canthus",
    "glomeruli": "glomerulus", "thrombi": "thrombus",
    "emboli": "embolus", "uteri": "uterus", "tophi": "tophus",
    # Greek/Latin -x -> -ces/-ges plurals.
    "halluces": "hallux", "thoraces": "thorax", "pharynges": "pharynx",
    "larynges": "larynx", "appendices": "appendix", "varices": "varix",
    "cervices": "cervix", "cortices": "cortex", "matrices": "matrix",
    "apices": "apex", "helices": "helix", "calyces": "calyx",
    "calices": "calyx",
    # Greek -sis -> -ses plurals ("-oses" can also be English e-stem
    # "noses", so table over rule).
    "stenoses": "stenosis", "scolioses": "scoliosis",
    "kyphoses": "kyphosis", "lordoses": "lordosis",
    "fibroses": "fibrosis", "necroses": "necrosis",
    "ptoses": "ptosis", "exostoses": "exostosis",
    "synostoses": "synostosis", "anastomoses": "anastomosis",
    "diagnoses": "diagnosis", "prognoses": "prognosis",
    "diaphyses": "diaphysis", "epiphyses": "epiphysis",
    "metaphyses": "metaphysis", "apophyses": "apophysis",
    "paralyses": "paralysis",
    # NOT folded: -um/-a plurals that are standalone clinical usage
    # ("labia", "cilia", "milia" head their own terms) and BONE -i/-a
    # plurals ("radii", "femora", "humeri"): folding those lets
    # multi-bone clause candidates match per-bone grouping terms the
    # gold assigns differently (measured val -0.3, 2 FP + 1 lost TP).
}

# British -> American orthography fold. The fold runs on BOTH sides
# (document tokens and dictionary lemma rows), so consistency — not
# linguistic perfection — is the invariant that makes keys meet.
_ORTHO_SPECIAL = {"lachrymal": "lacrimal", "grey": "gray"}


def _ortho(t: str) -> str:
    """Fold British/Latin spelling variants to the American base form."""
    s = _ORTHO_SPECIAL.get(t)
    if s is not None:
        return s
    if len(t) > 4 and t.endswith("ae"):       # Latin plural: vertebrae
        t = t[:-1]
    if len(t) > 4 and t.startswith(("ae", "oe")):  # aetiology, oedema
        t = t[1:]
    # Digraph fold to FIXPOINT: replacing "ae" -> "e" can create a new
    # "ae" (e.g. "aae" -> "ae"), so a single replace-all pass is not
    # idempotent (lemma(lemma(x)) != lemma(x) on adversarial inputs —
    # round-5 Hypothesis counterexample 'aaaaaea'). Loop until stable.
    while len(t) > 4 and ("ae" in t[1:-1] or "oe" in t[1:-1]):
        t2 = t[:1] + t[1:].replace("ae", "e").replace("oe", "e")
        if t2 == t:
            break
        t = t2
    if len(t) >= 6 and t.endswith("our"):      # tumour, colour
        t = t[:-3] + "or"
    if len(t) >= 7 and t.endswith("isation"):  # mineralisation
        t = t[:-7] + "ization"
    if len(t) > 5 and t.startswith("leuc"):    # leucocyte
        t = "leuk" + t[4:]
    return t


@lru_cache(maxsize=65536)
def lemma(token: str) -> str:
    """Deterministic suffix-rule lemmatizer (stands in for WordNet,
    util.py:25/927-929; regular English plurals + pinned irregular
    table), composed with the British->American orthography fold so the
    lemma key space is spelling-invariant on both sides of the join."""
    irr = _IRREGULAR_PLURALS.get(token)
    if irr is not None:
        return irr
    if len(token) > 3 and token.endswith("ies"):
        token = token[:-3] + "y"
    elif len(token) > 3 and token.endswith(("ches", "shes", "xes", "sses", "zes")):
        token = token[:-2]
    elif (
        len(token) > 2
        and token.endswith("s")
        and not token.endswith(("ss", "us", "is"))
    ):
        token = token[:-1]
    return _ortho(token)


def sorted_bag_key(tokens: list[str]) -> str:
    """T9: order-insensitive phrase key (util.py:326/415)."""
    return " ".join(sorted(tokens))


# Aggressive one-pass suffix stemmer (engine extension beyond the
# reference: third dictionary key tier catching morphological variants
# like "mutilating" ~ "mutilation"; measured +0.5-0.7 F1 on ID-68/GSC+).
_STEM_SUFFIXES = (
    "ational", "ations", "ation", "ities", "ility", "ingly", "ness",
    "ment", "ing", "ies", "ied", "ive", "ous", "ed", "es", "al", "ic",
    "ia", "s", "y",
)


@lru_cache(maxsize=65536)
def stem(token: str) -> str:
    """Lemma + longest-suffix strip, keeping a stem of >= 4 chars."""
    t = lemma(token)
    for suf in _STEM_SUFFIXES:
        if t.endswith(suf) and len(t) - len(suf) >= 4:
            return t[: len(t) - len(suf)]
    return t


def stem_key_of(tokens: list[str]) -> str:
    """Sorted bag of stems — the prio-2 dictionary key."""
    return " ".join(sorted(stem(t) for t in tokens))


def lemma_key_of(sorted_key: str) -> str:
    """Lemma fallback key: lemmatize tokens of the sorted key WITHOUT
    re-sorting (exactly the reference's composition, util.py:416)."""
    return " ".join(lemma(t) for t in sorted_key.split())


def simplify_tokens(tokens: list[str]) -> list[str]:
    """PhraseItem.simplify (util.py:239-252): num->word, drop stopwords
    and numerics. Input tokens are already lowercased."""
    out = []
    for t in tokens:
        if t in NUM2WORD:
            out.append(NUM2WORD[t])
        elif t in NLTK_STOPWORDS or is_num(t):
            continue
        else:
            out.append(t)
    return out


def normalize_text_keep_len(text: str) -> str:
    """Document-level normalization (util.py:887-889), length-preserving:
    lowercase, fold accents, punctuation class -> space, newline-after-word
    -> '.'. Offsets into the result index the raw text identically."""
    t = strip_accents_keep_len(text.lower())
    t = PUNCT_TEXT_RE.sub(" ", t)
    t = NEWLINE_RE.sub(".", t)
    # any remaining newline (not preceded by a word char) is just a gap
    return t.replace("\r", " ").replace("\n", " ")


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """T5: word tokens with char spans over (normalized) text."""
    return [(m.group(0), m.start(), m.end()) for m in TOKEN_RE.finditer(text)]

