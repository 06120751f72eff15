"""Deterministic text primitives — tokenizer, lemma rules, name normalizer.

Every rule here is deliberately expressible in both Spark SQL and DuckDB SQL
so the driver's oracle can replay it exactly. The lemmatizer replaces the
reference's external ``morpha`` subprocess (NLPUtil.pm:404, 2052-2177) with
pure suffix rules; the name normalizer replaces the pinyin-vote Chinese-name
standardizer (NLPUtil.pm:1680-1876) with an order-invariant canonical key
(sorting the two name parts subsumes the reversed-name detection the
reference votes on — deterministic and parallel-safe).
"""

from __future__ import annotations

import hashlib
import re

# Compact English stopword list (reference: NLPUtil.pm:250-287 academic
# stopwords + common function words). Kept small so the SQL oracle can
# inline it; single source of truth for Python, Spark and DuckDB.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "in", "is", "it", "its", "of", "on", "or", "that", "the",
    "this", "to", "was", "were", "will", "with", "we", "our", "using",
    "based", "via", "towards", "toward", "new", "approach", "method",
    "study", "analysis", "system", "model",
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")
_NON_ALPHA_RE = re.compile(r"[^a-z ]+")
_WS_RE = re.compile(r"\s+")


def tokenize(text: str | None) -> list[str]:
    """Lowercase alphanumeric tokens. SQL: regexp over lower(text)."""
    if not text:
        return []
    return _TOKEN_RE.findall(text.lower())


def tokenize_content(text: str | None) -> list[str]:
    """Tokens minus stopwords (NLPUtil.pm:2003-2007 removeStopWords)."""
    sw = set(STOPWORDS)
    return [t for t in tokenize(text) if t not in sw]


# Irregular surface → lemma table (morpha-grade exceptions; the reference
# persists discovered lemmas in lemma-cache.txt, NLPUtil.pm:408-441 — here
# the common-English irregulars are embedded so both engines share one
# deterministic list). Nouns dominate title text; a few frequent verbs
# are included.
IRREGULAR_LEMMAS: dict[str, str] = {
    # -- irregular noun plurals (native + Latin/Greek, AGID-style public
    #    inventory; forms whose surface collides with a common technical
    #    word in the other reading — bit, bound, ground, rose, ellipses —
    #    are deliberately left OUT) --
    "children": "child", "men": "man", "women": "woman", "feet": "foot",
    "teeth": "tooth", "mice": "mouse", "geese": "goose", "people": "person",
    "oxen": "ox",
    "analyses": "analysis", "hypotheses": "hypothesis", "theses": "thesis",
    "bases": "basis", "axes": "axis", "crises": "crisis",
    "emphases": "emphasis", "oases": "oasis", "diagnoses": "diagnosis",
    "syntheses": "synthesis", "parentheses": "parenthesis",
    "prognoses": "prognosis", "synopses": "synopsis",
    "indices": "index", "matrices": "matrix", "vertices": "vertex",
    "vortices": "vortex", "apices": "apex", "codices": "codex",
    "simplices": "simplex", "appendices": "appendix",
    "criteria": "criterion", "phenomena": "phenomenon",
    "automata": "automaton", "corpora": "corpus", "schemata": "schema",
    "lemmata": "lemma", "stigmata": "stigma", "errata": "erratum",
    "addenda": "addendum", "memoranda": "memorandum",
    "referenda": "referendum", "genera": "genus", "strata": "stratum",
    "spectra": "spectrum", "maxima": "maximum", "minima": "minimum",
    "optima": "optimum", "quanta": "quantum", "millennia": "millennium",
    "symposia": "symposium", "consortia": "consortium",
    "equilibria": "equilibrium", "continua": "continuum",
    "curricula": "curriculum", "alumni": "alumnus", "bacteria": "bacterium",
    "fungi": "fungus", "nuclei": "nucleus", "radii": "radius",
    "stimuli": "stimulus", "syllabi": "syllabus", "foci": "focus",
    "loci": "locus", "formulae": "formula", "antennae": "antenna",
    "larvae": "larva", "cacti": "cactus",
    "wolves": "wolf", "knives": "knife", "lives": "life",
    "leaves": "leaf", "halves": "half", "shelves": "shelf",
    "selves": "self", "wives": "wife", "calves": "calf",
    "loaves": "loaf", "thieves": "thief", "scarves": "scarf",
    "series": "series", "media": "medium", "data": "data",
    # -- irregular verb forms (past / participle; ambiguous surfaces like
    #    saw→see are kept only where the reference-style corpus reading is
    #    clearly verbal) --
    "am": "be", "is": "be", "are": "be", "was": "be", "were": "be",
    "been": "be", "being": "be",
    "has": "have", "had": "have", "does": "do",
    "taken": "take", "took": "take", "given": "give", "gave": "give",
    "made": "make", "ran": "run", "wrote": "write", "written": "write",
    "found": "find", "built": "build", "brought": "bring",
    "bought": "buy", "thought": "think", "seen": "see", "saw": "see",
    "done": "do", "did": "do", "went": "go", "gone": "go",
    "said": "say", "got": "get", "held": "hold", "left": "leave",
    "chosen": "choose", "chose": "choose", "driven": "drive",
    "drawn": "draw", "grown": "grow", "known": "know", "shown": "show",
    "arose": "arise", "arisen": "arise", "became": "become",
    "began": "begin", "begun": "begin", "bent": "bend", "beaten": "beat",
    "blew": "blow", "blown": "blow", "broke": "break", "broken": "break",
    "bred": "breed", "burnt": "burn", "caught": "catch", "came": "come",
    "crept": "creep", "dealt": "deal", "drew": "draw", "dug": "dig",
    "drank": "drink", "drunk": "drink", "drove": "drive", "ate": "eat",
    "eaten": "eat", "fell": "fall", "fallen": "fall", "fed": "feed",
    "felt": "feel", "fought": "fight", "fled": "flee", "flung": "fling",
    "flew": "fly", "flown": "fly", "forbidden": "forbid",
    "forgot": "forget", "forgotten": "forget", "forgave": "forgive",
    "forgiven": "forgive", "froze": "freeze", "frozen": "freeze",
    "hung": "hang", "hidden": "hide", "hid": "hide", "kept": "keep",
    "knew": "know", "laid": "lay", "led": "lead", "lent": "lend",
    "lain": "lie", "lit": "light", "lost": "lose", "meant": "mean",
    "met": "meet", "paid": "pay", "proven": "prove", "rode": "ride",
    "ridden": "ride", "rang": "ring", "rung": "ring", "risen": "rise",
    "sang": "sing", "sung": "sing", "sank": "sink", "sunk": "sink",
    "sat": "sit", "slept": "sleep", "slid": "slide", "sold": "sell",
    "sent": "send", "sought": "seek", "spent": "spend", "spoke": "speak",
    "spoken": "speak", "sprang": "spring", "sprung": "spring",
    "stood": "stand", "stole": "steal", "stolen": "steal",
    "struck": "strike", "swam": "swim", "swum": "swim", "swept": "sweep",
    "swore": "swear", "sworn": "swear", "taught": "teach", "told": "tell",
    "torn": "tear", "threw": "throw", "thrown": "throw",
    "understood": "understand", "undertaken": "undertake",
    "undertook": "undertake", "woke": "wake", "woken": "wake",
    "won": "win", "wore": "wear", "worn": "wear",
}

# Consonant-doubling verb stems (morpha's verbstem behavior): after
# stripping -ing/-ed, a doubled final consonant from one of these stems is
# undoubled (mapping → map) — but NOT for stems outside the list
# (falling → fall keeps its double l).
DOUBLING_STEMS: tuple[str, ...] = (
    "map", "plan", "run", "stop", "set", "fit", "get", "put", "cut",
    "log", "tag", "drop", "embed", "wrap", "swap", "split", "ship",
    "trim", "scan", "skip", "flag", "chop", "pin", "sum",
    "begin", "refer", "occur", "prefer", "infer", "defer", "transfer",
    "submit", "commit", "omit", "permit", "transmit", "emit", "admit",
    "format", "forget", "regret", "control", "plot", "slot", "drag",
    "grab", "grip", "hop", "jog", "nod", "pad", "plug", "pop", "rob",
    "rub", "shrug", "slam", "slip", "snap", "spin", "star", "step",
    "stir", "strip", "tap", "tip", "top", "trap", "trip", "zip",
)
_DOUBLED_FORMS = frozenset(s + s[-1] for s in DOUBLING_STEMS)

# Silent-e stems: after stripping -ing/-ed the e is restored
# (computing → compute); list-driven so both engines agree exactly.
E_RESTORE_STEMS: tuple[str, ...] = (
    "comput", "stor", "cod", "encod", "decod", "sampl", "scal",
    "schedul", "pars", "analyz", "optimiz", "cach", "pipelin", "merg",
    "combin", "creat", "generat", "integrat", "iterat", "updat",
    "evaluat", "estimat", "simulat", "measur", "structur", "tun",
    "mak", "tak", "writ", "driv", "manag", "chang", "charg", "clos",
    "compar", "compil", "configur", "consum", "continu", "decid",
    "defin", "deriv", "describ", "determin", "divid", "enabl", "enforc",
    "ensur", "evolv", "execut", "explor", "fil", "handl", "improv",
    "includ", "increas", "indicat", "introduc", "invok", "leverag",
    "localiz", "liv", "lik", "locat", "los", "mov", "nam", "not",
    "observ", "pag", "phras", "plac", "prepar", "preserv", "produc",
    "promot", "propos", "prov", "provid", "rais", "rat", "receiv",
    "reduc", "refin", "relat", "releas", "remov", "renam", "requir",
    "resolv", "retriev", "reus", "revers", "revis", "rout", "sav",
    "serv", "shap", "shar", "solv", "squar", "trac", "trad", "typ",
    "upgrad", "utiliz", "visualiz", "vot", "argu", "captur", "compos",
    "decreas", "devis", "examin", "exchang", "exclud", "expos",
    "featur", "fus", "imagin", "judg",
    "accelerat", "accumulat", "activat", "aggregat",
    "allocat", "annotat", "approximat", "authenticat", "automat",
    "calculat", "calibrat", "communicat", "compensat",
    "concatenat", "coordinat", "correlat", "delegat", "demonstrat",
    "differentiat", "duplicat", "eliminat", "emulat", "enumerat",
    "extrapolat", "facilitat", "formulat", "illustrat", "incorporat",
    "initiat", "instantiat", "interpolat", "investigat", "isolat",
    "manipulat", "migrat", "mitigat", "mutat", "navigat", "negotiat",
    "normaliz", "operat", "orchestrat", "participat", "populat",
    "propagat", "quantiz", "regulat", "replicat", "rotat", "saturat",
    "separat", "serializ", "terminat", "translat", "truncat", "validat",
    "vibrat",
)
_E_RESTORE = frozenset(E_RESTORE_STEMS)


def _destem(stem: str) -> str:
    """Post-strip fixups shared by the -ing and -ed branches."""
    if stem in _DOUBLED_FORMS:
        return stem[:-1]
    if stem in _E_RESTORE:
        return stem + "e"
    return stem


def lemma(word: str) -> str:
    """Deterministic lemmatizer (stand-in for morpha; suffix classes mirror
    the reference's ING/ED/NONE enum, NLPUtil.pm:2052-2177): irregular
    table first, then suffix rules with consonant-undoubling and
    silent-e restoration.

    SQL-expressible as a CASE chain (generated from the SAME tables in
    functions/sqlexpr.lemma_case):
      irregulars; *sses/*xes/*zes/*ches/*shes -> strip es (len>4);
      *ies->y (len>4); *ing-> destem (len>5); *ed->destem (len>4);
      *s (not *ss) -> strip (len>3).
    """
    irr = IRREGULAR_LEMMAS.get(word)
    if irr is not None:
        return irr
    if len(word) > 4 and word.endswith(("sses", "xes", "zes", "ches", "shes")):
        return word[:-2]
    if len(word) > 4 and word.endswith("ies"):
        return word[:-3] + "y"
    if len(word) > 5 and word.endswith("ing"):
        return _destem(word[:-3])
    if len(word) > 4 and word.endswith("ed"):
        return _destem(word[:-2])
    if len(word) > 3 and word.endswith("s") and not word.endswith("ss"):
        return word[:-1]
    return word


# Suffix classes (reference enum SUFFIX_NONE/ING/ED, NLPUtil.pm lemma
# cache format `surface \t lemma \t suffixEnum`, :408-441, 4489-4492)
SUFFIX_NONE, SUFFIX_ING, SUFFIX_ED, SUFFIX_S = 0, 1, 2, 3


def lemma_with_suffix(word: str) -> tuple[str, int]:
    """(lemma, suffix class) — the persisted-cache record shape."""
    irr = IRREGULAR_LEMMAS.get(word)
    if irr is not None:
        return irr, SUFFIX_NONE
    if len(word) > 4 and word.endswith(("sses", "xes", "zes", "ches", "shes")):
        return word[:-2], SUFFIX_S
    if len(word) > 4 and word.endswith("ies"):
        return word[:-3] + "y", SUFFIX_S
    if len(word) > 5 and word.endswith("ing"):
        return _destem(word[:-3]), SUFFIX_ING
    if len(word) > 4 and word.endswith("ed"):
        return _destem(word[:-2]), SUFFIX_ED
    if len(word) > 3 and word.endswith("s") and not word.endswith("ss"):
        return word[:-1], SUFFIX_S
    return word, SUFFIX_NONE


def load_lemma_cache(path: str) -> dict[str, tuple[str, int]]:
    """Load a persisted lemma cache (TSV `surface \\t lemma \\t suffix`,
    NLPUtil.pm:408-441). Missing file → empty cache."""
    import os

    out: dict[str, tuple[str, int]] = {}
    if not os.path.exists(path):
        return out
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if len(parts) == 3:
                out[parts[0]] = (parts[1], int(parts[2]))
    return out


def save_lemma_cache(path: str, cache: dict[str, tuple[str, int]]) -> None:
    """Persist the lemma cache (saved at exit in the reference,
    NLPUtil.pm:4489-4492); sorted for determinism."""
    with open(path, "w", encoding="utf-8") as fh:
        for surface in sorted(cache):
            lm, sfx = cache[surface]
            fh.write(f"{surface}\t{lm}\t{sfx}\n")


def normalize_name_key(name: str | None) -> str:
    """Normalized speaker key = blocking key.

    lower → strip non-letters → collapse whitespace → sort the name parts.
    Sorting makes 'wei wang' and 'wang wei' collide, subsuming
    ``testChnNameReverse`` (NLPUtil.pm:1750-1851) deterministically.
    SQL-expressible (two-part names via least/greatest; we keep parts
    sorted generally).
    """
    if not name:
        return ""
    s = _NON_ALPHA_RE.sub(" ", name.lower())
    parts = [p for p in _WS_RE.split(s) if p]
    return " ".join(sorted(parts))


# ---------------------------------------------------------------------------
# Pinyin name classifier (isChineseName, NLPUtil.pm:1680-1710; syllable
# table loaded by loadPinyin, NLPUtil.pm:1339-1368). The syllabary is
# generated from the standard Hanyu Pinyin initial × final table (public
# inventory) instead of shipping a data file; both the Spark implementation
# and the SQL oracle consume this same generated list, so minor inventory
# edge cases cannot cause cross-engine drift.
# ---------------------------------------------------------------------------

_ZERO_INITIAL = (
    "a o e ai ei ao ou an en ang eng er yi ya ye yao you yan yin yang ying "
    "yong yu yue yuan yun wu wa wo wai wei wan wen wang weng"
)
_GKH = "a e ai ei ao ou an en ang eng ong u ua uo uai ui uan un uang"
_JQX = "i ia ie iao iu ian in iang ing iong u ue uan un"
_ZCS = "a e i ai ei ao ou an en ang eng ong u uo ui uan un"
_INITIAL_FINALS: dict[str, str] = {
    "": _ZERO_INITIAL,
    "b": "a o ai ei ao an en ang eng i ie iao ian in ing u",
    "p": "a o ai ei ao ou an en ang eng i ie iao ian in ing u",
    "m": "a o e ai ei ao ou an en ang eng i ie iao iu ian in ing u",
    "f": "a o ei ou an en ang eng u",
    "d": "a e ai ei ao ou an en ang eng i ia iao ie iu ian ing ong u uo ui uan un",
    "t": "a e ai ao ou an ang eng i iao ie ian ing ong u uo ui uan un",
    "n": "a e ai ei ao ou an en ang eng i iao ie iu ian in iang ing ong u uo uan",
    "l": "a e ai ei ao ou an ang eng i ia iao ie iu ian in iang ing ong u uo uan un",
    "g": _GKH,
    "k": _GKH,
    "h": _GKH,
    "j": _JQX,
    "q": _JQX,
    "x": _JQX,
    "zh": _GKH + " i",
    "ch": _GKH + " i",
    "sh": "a e i ai ei ao ou an en ang eng u ua uo uai ui uan un uang",
    "r": "e i ao ou an en ang eng ong u ua uo ui uan un",
    "z": _ZCS,
    "c": _ZCS,
    "s": _ZCS,
}

# common two-character surnames (treated as ONE char) — the reference's
# exact list (NLPUtil.pm:289 @twochar_surname)
TWOCHAR_SURNAMES: tuple[str, ...] = (
    "ouyang", "shangguan", "duanmu", "sima", "situ", "zhuge", "huangpu",
    "linghu", "murong",
)

# Patch sets reconciling the generated initial×final product with the
# canonical Hanyu Pinyin inventory (reference pinyin.txt, 407 syllables):
# the ü-romanizations (lv/nv/lue/nue) and the interjection syllables
# (lo/yo) are real; six product artifacts (cei/chei/den/dia/rua/sei) are
# not pinyin syllables.
_PINYIN_ADD = ("lo", "lue", "lv", "nue", "nv", "yo")
_PINYIN_REMOVE = frozenset(("cei", "chei", "den", "dia", "rua", "sei"))


def pinyin_syllables() -> tuple[str, ...]:
    """The syllabary, sorted — generated initial×final product patched to
    the canonical 407-entry inventory (matches pinyin.txt exactly; a test
    asserts the count)."""
    out = set()
    for ini, fins in _INITIAL_FINALS.items():
        for fin in fins.split():
            out.add(ini + fin)
    out.difference_update(_PINYIN_REMOVE)
    out.update(_PINYIN_ADD)
    return tuple(sorted(out))


_SYLLABLES = frozenset(pinyin_syllables())


def chinese_name_chars(name: str | None) -> int:
    """Character count of a pinyin-decomposable two-part name, else 0
    (isChineseName, NLPUtil.pm:1680-1710): each part (hyphens stripped) must
    be one syllable, a two-syllable concatenation, or a two-char surname
    (counted as one char); a 1↔2-syllable ambiguity resolves to 1 syllable
    (loadPinyin overwrite order, NLPUtil.pm:1360-1364); total must be 2-3."""
    if not name:
        return 0
    parts = name.lower().split()
    if len(parts) != 2:
        return 0
    chars = 0
    for p in parts:
        p = p.replace("-", "")
        if p in TWOCHAR_SURNAMES:
            chars += 1
        elif p in _SYLLABLES:
            chars += 1
        elif any(
            p[:i] in _SYLLABLES and p[i:] in _SYLLABLES
            for i in range(1, len(p))
        ):
            chars += 2
        else:
            return 0
    return chars if 2 <= chars <= 3 else 0


# Cantonese (HK-conventional romanization) syllabary. HK-conventional
# romanization is NOT a regular initial×final product — it is a set of
# conventional spellings (lee/chow/woo/yee/yuen/young/...) shaped by a
# century of HK government/Wade-Giles usage, so the inventory is embedded
# explicitly (325 syllables, matching the reference's cantonpinyin.txt
# loaded by loadPinyin, NLPUtil.pm:1339-1368; isCantoneseName
# NLPUtil.pm:1712-1748).
_CANTONESE_INVENTORY = (
    "ah au bik bing bit bong bun chai chak cham chan chang chat chau chen "
    "cheng cheong cheuk cheung chi chiang chick chign chik chin ching chit "
    "chiu cho choi chok chong chor chow choy chu chuen chui chum chun chung "
    "dik diu fa fai fan fang fat fei fo fog fok fong foo fook foon fork fu "
    "fui fuk fung ha han hang hau hei heung him hin hing hip hiu ho hoi hok "
    "hon hong hou hsu hsui huang huen hui hung hwang i ip jim ka kai kak kam "
    "kan kang kar kau kei keung khoo kim kin king kit kiu ko kok kon kong koo "
    "koon kot ku kua kuen kui kuk kun kung kuo kwai kwan kwing kwok kwong lai "
    "lam lan lap larm lau law lee lei leong leung li liang liao liew lik lim "
    "lin ling lip lit liu lo loi lok long loo look loong low luen luet lui "
    "luk lum lun lung ma mak man mang mao mar mei min ming miu mo mok mook "
    "moon mui muk mung nam nang nar nei neung ng nga ngai ngan ngau ngo ngon "
    "nie nin ning nui o oi on or pak pang pat pau pei pik pin ping piu po pok "
    "pong poo poon pui pun sai sam san sang sau se seck see sei sek shan she "
    "shek sheung shi shih shing shiu shp shu shue shuen shuk shum shun si sik "
    "sim sin sing sit siu so suen suet sui sum sun sung sze tai tak tam tan "
    "tang tao tat tau tim tin ting tip tit to tong tsam tsang tse tsim tso "
    "tsoi tsui tuen tung tye ung vong wah wai wan wang wat wing wo won wong "
    "woo wood woon wu wui wun wut yam yan yang yao yat yau yee yei yen yeuk "
    "yeung yi yick yik yim yin ying yip yiu young yu yue yuen yuet yui yuk "
    "yung zhang"
)


def cantonese_syllables() -> tuple[str, ...]:
    return tuple(sorted(set(_CANTONESE_INVENTORY.split())))


_C_SYLLABLES = frozenset(cantonese_syllables())


def _syllable_count(p: str, syl: frozenset) -> int:
    """1 if p is one syllable, 2 if a two-syllable concatenation, else 0
    (1↔2 ambiguity resolves to 1, loadPinyin overwrite order)."""
    if p in syl:
        return 1
    if any(p[:i] in syl and p[i:] in syl for i in range(1, len(p))):
        return 2
    return 0


def is_cantonese_name(name: str | None) -> int:
    """1 when a two-part name reads as Cantonese romanization but NOT as a
    standard pinyin name (isCantoneseName, NLPUtil.pm:1712-1748): the first
    part must be 1-2 Cantonese-or-pinyin syllables, the second part exactly
    one Cantonese syllable, and the pinyin reading (first 1-2 / second 1)
    must NOT hold. Hyphens are stripped; non-2-part names return 0."""
    if not name:
        return 0
    parts = name.lower().replace("-", "").split()
    if len(parts) != 2:
        return 0
    first, second = parts
    pin1 = _syllable_count(first, _SYLLABLES)
    pin2 = _syllable_count(second, _SYLLABLES)
    if 1 <= pin1 <= 2 and pin2 == 1:
        return 0
    can1 = _syllable_count(first, _C_SYLLABLES)
    can2 = _syllable_count(second, _C_SYLLABLES)
    if (1 <= can1 <= 2 or 1 <= pin1 <= 2) and can2 == 1:
        return 1
    return 0


def fingerprint(text: str | None) -> str:
    """Document fingerprint: md5 of the lowercased, alnum-only text.
    Portable across Spark (F.md5) and DuckDB (md5)."""
    norm = "".join(tokenize(text))
    return hashlib.md5(norm.encode("utf-8")).hexdigest()
