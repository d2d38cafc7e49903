"""Pure text/label functions with exact reference semantics.

These are the *semantic contracts* our Spark engine must honour. They are
written from scratch (vectorized NumPy where it matters) and are shared by

  * the Arrow/pandas UDF bodies in :mod:`deep_ner_spark.functions.text`
    (batched, no per-row Python at the Spark level), and
  * the pytest golden-vector suite (``tests/test_textfns.py``), which pins
    them to the reference's published test vectors.

Reference behaviours reproduced (cited file:line into /root/reference):

* ``normalize_text``                — deep_ner/utils.py:1174-1182
* ``shape_of_string``               — deep_ner/elmo_ner.py:1067-1096
* ``shape_of_subword``              — deep_ner/bert_ner.py:1230-1261
* ``bounds_of_tokens``              — deep_ner/elmo_ner.py:952-963
* ``paint_entity_chars``            — deep_ner/elmo_ner.py:1026-1039
* ``token_labels``                  — deep_ner/elmo_ner.py:1042-1064
* ``decode_bio_spans``              — deep_ner/elmo_ner.py:966-1023
* ``bio_label_of_token``            — deep_ner/utils.py:973-1004
* ``split_dependency_tag``          — deep_ner/udpipe_data.py:29-35
* BIO integer codec: for 1-based class id ``k``: ``B -> 2k`` (even),
  ``I -> 2k-1`` (odd), ``O -> 0``  — deep_ner/elmo_ner.py:974,979.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Dict, List, Sequence, Tuple

import numpy as np

# --- normalization ---------------------------------------------------------

# The ten dash variants the reference folds to '-' (utils.py:1175-1176).
DASH_VARIANTS = "—–‒‑‐﹣－⁃֊᠆"
_DASH_TABLE = str.maketrans({c: "-" for c in DASH_VARIANTS})
_WS_RE = re.compile(r"\s")  # Unicode White_Space plus \x1c-\x1f


def normalize_text(s: str) -> str:
    """Fold dash variants to '-', any whitespace char to ' '.

    Length-preserving by construction: every substitution is 1 char -> 1
    char, so char offsets computed on the normalized text are valid.
    """
    return _WS_RE.sub(" ", s.translate(_DASH_TABLE))


# --- token shape -----------------------------------------------------------

_PUNCT = set(".,:;-+!?#@$&=^`~*/\\()[]{}'\"|<>")
_DASH_CLASS = {chr(c) for c in (8213, 8212, 8211, 8210, 8209, 8208, 11834, 173, 8722, 8259)}
_DQUOTE_CLASS = {chr(c) for c in (8220, 8221, 11842, 171, 187, 128631, 128630, 128632, 12318, 12317, 12319)}
_SQUOTE_CLASS = {chr(39), chr(8216), chr(8217), chr(8218)}
_UNDERSCORE_CLASS = {"_", chr(11791)}


@lru_cache(maxsize=65536)
def _char_class(ch: str) -> str:
    if ch in _UNDERSCORE_CLASS:
        return "_"
    if ch.isalpha():
        return "A" if ch.isupper() else "a"
    if ch.isdigit():
        return "D"
    if ch in _PUNCT:
        return "P"
    if ch in _DASH_CLASS:
        return "-"
    if ch in _DQUOTE_CLASS:
        return '"'
    if ch in _SQUOTE_CLASS:
        return "'"
    return "U"


_RUN_RE = re.compile(r"(.)\1+", flags=re.DOTALL)


@lru_cache(maxsize=1 << 20)
def shape_of_string(token: str) -> str:
    """Classify each char, then collapse runs of equal classes."""
    return _RUN_RE.sub(r"\1", "".join(map(_char_class, token)))


@lru_cache(maxsize=1 << 20)
def shape_of_subword(subword: str) -> str:
    """BERT variant: sentinels pass through; '##' prefix is skipped."""
    if subword in {"[UNK]", "[PAD]", "[CLS]", "[SEP]"}:
        return subword
    body = subword[2:] if subword.startswith("##") else subword
    return shape_of_string(body)


def subword_id(subword: str) -> int:
    """0=[CLS], 1=[SEP], 2=continuation, 3=word start (bert_ner.py:1220-1227)."""
    if subword == "[CLS]":
        return 0
    if subword == "[SEP]":
        return 1
    if subword.startswith("##"):
        return 2
    return 3


# --- tokenizer (pinned, deterministic) --------------------------------------

# The reference delegates tokenization to UDPipe then re-splits on whitespace
# (elmo_ner.py:403-415).  Our engine pins a deterministic regex tokenizer
# (word-char runs | single non-space symbol) that reproduces the reference's
# golden tokenizations (tests/test_elmo_ner.py:826-845); a UDPipe-backed UDF
# can be plugged in where the dependency is available.
_TOKEN_RE = re.compile(r"\w+|[^\w\s]", flags=re.UNICODE)


def tokenize_with_bounds(text: str) -> List[Tuple[str, int, int]]:
    """(token, start, end) triples over *normalized* text."""
    return [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def tokenize(text: str) -> List[str]:
    return _TOKEN_RE.findall(text)


def bounds_of_tokens(source_text: str, tokens: Sequence[str]) -> List[Tuple[int, int]]:
    """Sequential left-to-right alignment of a given token list onto text.

    Semantics of elmo_ner.py:952-963 (forward substring search); raises if a
    token is absent, like the reference.
    """
    out: List[Tuple[int, int]] = []
    pos = 0
    for tok in tokens:
        hit = source_text.find(tok, pos)
        if hit < 0:
            raise ValueError(
                f"Text {source_text!r} cannot be tokenized: token {tok!r} not found"
            )
        out.append((hit, hit + len(tok)))
        pos = hit + len(tok)
    return out


# --- entity char painting + majority labels + BIO ints -----------------------


def paint_entity_chars(
    text_len: int,
    classes_list: Sequence[str],
    named_entities: Dict[str, List[Tuple[int, int]]],
) -> Tuple[np.ndarray, Dict[int, int]]:
    """Paint each char with a per-entity-instance label id.

    Instance ids are assigned 1..N iterating entity types in sorted order
    (elmo_ner.py:1026-1039); the returned map sends instance id -> 1-based
    class id.  Later paints overwrite earlier ones, as in the reference.
    """
    paint = np.zeros(text_len, dtype=np.int32)
    inst_to_class: Dict[int, int] = {}
    inst = 1
    class_index = {c: i + 1 for i, c in enumerate(classes_list)}
    for ne_type in sorted(named_entities):
        k = class_index[ne_type]
        for start, end in named_entities[ne_type]:
            paint[start:end] = inst
            inst_to_class[inst] = k
            inst += 1
    return paint, inst_to_class


def majority_instance_per_token(
    bounds: Sequence[Tuple[int, int]],
    paint: np.ndarray,
    n_instances: int,
) -> np.ndarray:
    """Per token: the instance id covering the majority of its chars.

    Ties resolve to the LOWEST id (np.bincount argmax == reference's
    distr.argmax at elmo_ner.py:1050), so 'O' (id 0) wins against an equally
    frequent instance.
    """
    out = np.zeros(len(bounds), dtype=np.int32)
    for i, (s, e) in enumerate(bounds):
        if e > s:
            counts = np.bincount(paint[s:e], minlength=n_instances + 1)
            out[i] = int(counts.argmax())
    return out


def bio_encode_instances(
    instances: np.ndarray, inst_to_class: Dict[int, int]
) -> np.ndarray:
    """Instance-id sequence -> BIO integer codes (B=2k even, I=2k-1 odd).

    A token is I(nside) iff its instance id equals the previous token's
    instance id (elmo_ner.py:1054-1063) — adjacency of two *distinct*
    instances of one class re-opens with B.
    """
    inst = np.asarray(instances, dtype=np.int64)
    prev = np.concatenate(([0], inst[:-1]))
    classes = np.array([0] + [inst_to_class.get(i, 0) for i in range(1, int(inst.max()) + 1 if inst.size else 1)],
                       dtype=np.int64)
    k = classes[inst]
    is_inside = (inst > 0) & (inst == prev)
    return np.where(inst > 0, np.where(is_inside, 2 * k - 1, 2 * k), 0).astype(np.int32)


def token_labels(
    bounds: Sequence[Tuple[int, int]],
    paint: np.ndarray,
    inst_to_class: Dict[int, int],
    max_seq_length: int,
) -> np.ndarray:
    """Full reference pipeline of elmo_ner.py:1042-1064, padded/truncated."""
    res = np.zeros(max_seq_length, dtype=np.int32)
    n = min(len(bounds), max_seq_length)
    inst = majority_instance_per_token(list(bounds)[:n], paint, len(inst_to_class))
    res[:n] = bio_encode_instances(inst, inst_to_class)
    return res


def subword_token_labels(
    tokens: Sequence[str],
    bounds: Sequence[Tuple[int, int]],
    paint: np.ndarray,
    inst_to_class: Dict[int, int],
    max_seq_length: int,
) -> np.ndarray:
    """BERT subword variant of token_labels (bert_ner.py:1177-1217).

    Slot 0 is [CLS]; tokens occupy slots 1..n with n = max_seq_length - 2.
    After the majority vote, '##' continuation subwords are reconciled with
    their word: a continuation whose label differs from the previous slot
    inherits it (forward-fill), or back-fills its word-start run when the
    previous slot was O — the reference's exact W3 instance.  The BIO
    integer codec then runs over slot positions.
    """
    res = np.zeros(max_seq_length, dtype=np.int32)
    n = min(len(bounds), max_seq_length - 2)
    inst = majority_instance_per_token(list(bounds)[:n], paint, len(inst_to_class))
    res[1:n + 1] = inst
    prev = 0
    for i in range(n):
        cur = int(res[i + 1])
        if cur != prev and tokens[i].startswith("##"):
            if prev > 0:
                res[i + 1] = prev
                cur = prev
            else:
                j = i
                while j >= 0:
                    res[j + 1] = cur
                    if not tokens[j].startswith("##"):
                        break
                    j -= 1
        prev = cur
    prev = 0
    for k in range(max_seq_length):
        c = int(res[k])
        if c > 0:
            ne = inst_to_class[c]
            res[k] = ne * 2 - 1 if c == prev else ne * 2
        prev = c
    return res


def wordpiece_tokenize(
    token: str, vocab: frozenset, max_chars: int = 200
) -> List[str]:
    """Greedy longest-match WordPiece of one word (bert_ner.py:731-771 stand-in).

    Continuations carry the '##' prefix; an unmatchable word becomes [UNK].
    Pure and deterministic given the vocab — the pluggable-tokenizer pattern
    of SURVEY §2.10.
    """
    if len(token) > max_chars:
        return ["[UNK]"]
    out: List[str] = []
    start = 0
    while start < len(token):
        end = len(token)
        piece = None
        while end > start:
            cand = token[start:end]
            if start > 0:
                cand = "##" + cand
            if cand in vocab:
                piece = cand
                break
            end -= 1
        if piece is None:
            return ["[UNK]"]
        out.append(piece)
        start = end
    return out


# --- BIO decode: label runs -> entity spans ----------------------------------


def decode_bio_spans(
    bounds: Sequence[Tuple[int, int]],
    classes_list: Sequence[str],
    labels: Sequence[int],
) -> Dict[str, List[Tuple[int, int]]]:
    """Invert the BIO integer codec into char spans per entity type.

    Semantics of elmo_ner.py:966-1023: an entity closes when the label goes
    to O/out-of-range, when an even (B) code appears, or when an odd (I) code
    switches class; spans cover first-token start .. last-token end.
    """
    out: Dict[str, List[Tuple[int, int]]] = {}

    def close(start_idx: int, end_idx: int, ne_type: str) -> None:
        out.setdefault(ne_type, []).append((bounds[start_idx][0], bounds[end_idx][1]))

    open_start = -1
    open_type = ""
    for idx in range(len(bounds)):
        code = int(labels[idx]) if idx < len(labels) else 0
        k = (code - 1) // 2
        valid = code > 0 and k < len(classes_list)
        if valid:
            cur_type = classes_list[k]
            if open_start < 0:
                open_start, open_type = idx, cur_type
            elif code % 2 == 0 or cur_type != open_type:
                close(open_start, idx - 1, open_type)
                open_start, open_type = idx, cur_type
        elif open_start >= 0:
            close(open_start, idx - 1, open_type)
            open_start, open_type = -1, ""
    if open_start >= 0:
        close(open_start, len(bounds) - 1, open_type)
    return out


# --- char-overlap BIO label of one token (utils.py:973-1004) -----------------


def bio_label_of_token(
    source_text: str,
    token_bounds: Tuple[int, int],
    named_entities: Dict[str, List[Tuple[int, int]]],
) -> str:
    """Best-overlap entity label for one token, 'O' below half-token overlap."""
    ts, te = token_bounds
    best_type, best_span, best_sim = "", None, 0
    for ne_type in named_entities:
        for span in named_entities[ne_type]:
            es, ee = span
            overlap = min(te, ee) - max(ts, es)
            if overlap > best_sim:
                best_sim, best_type, best_span = overlap, ne_type, span
    if best_span is None or best_sim < (te - ts) // 2:
        return "O"
    if ts <= best_span[0] or not source_text[best_span[0]:ts].strip():
        return "B-" + best_type
    return "I-" + best_type


# --- dependency tag splitting (udpipe_data.py:29-35) -------------------------

_DEP_SPLIT_RE = re.compile(r"[:\-]+")


def split_dependency_tag(tag: str) -> set:
    parts = {p for p in (x.strip().lower() for x in _DEP_SPLIT_RE.split(tag)) if p}
    parts.add(tag.lower().replace(":", "").replace("-", ""))
    return parts


# --- UD vocabularies (udpipe_data.py:8-14) -----------------------------------

UNIVERSAL_POS_TAGS: Tuple[str, ...] = (
    "ADJ", "ADP", "ADV", "AUX", "CCONJ", "CONJ", "DET", "INTJ", "NOUN", "NUM",
    "PART", "PRON", "PROPN", "PUNCT", "SCONJ", "SYM", "VERB", "X",
)
UNIVERSAL_DEPENDENCIES: Tuple[str, ...] = (
    "acl", "advcl", "advmod", "amod", "appos", "aux", "auxpass", "case", "cc",
    "ccomp", "compound", "conj", "cop", "csubj", "csubjpass", "dep", "det",
    "discourse", "dislocated", "dobj", "expl", "fixed", "flat", "foreign",
    "goeswith", "gov", "iobj", "list", "mark", "mwe", "name", "neg", "nmod",
    "nsubj", "nsubjpass", "nummod", "obj", "obl", "orphan", "parataxis",
    "pass", "punct", "relcl", "remnant", "reparandum", "root", "vocative",
    "xcomp",
)

_POS_INDEX = {t: i for i, t in enumerate(UNIVERSAL_POS_TAGS)}
_DEP_INDEX = {t: i for i, t in enumerate(UNIVERSAL_DEPENDENCIES)}


@lru_cache(maxsize=1 << 18)
def _pos_dep_cached(token: str, is_first: bool, parity: int) -> Tuple[str, str]:
    shape = shape_of_string(token)
    if all(c in "PD-\"'U_" for c in shape) and "D" not in shape:
        return ("PUNCT", "punct")
    if "D" in shape and not any(c in "Aa" for c in shape):
        return ("NUM", "nummod")
    if shape.startswith("A"):
        return ("PROPN", "name")
    if is_first:
        return ("NOUN", "nsubj")
    return ("NOUN", "nmod" if parity else "obj")


def heuristic_pos_dep(token: str, token_idx: int) -> Tuple[str, str]:
    """Pinned deterministic POS/dep tagger (UDPipe stand-in; see §2.10).

    Purely a deterministic placeholder so the linguistic one-hot channel is
    exercised hermetically; a UDPipe pipeline can be plugged in instead.
    The result depends on the token plus (is-first, index parity) only, so
    it caches on that key.
    """
    return _pos_dep_cached(token, token_idx == 0, token_idx % 2)


_UDPIPE_PIPELINES: dict = {}  # per-process cache, one pipeline per lang


def load_udpipe(lang: str):
    """Load (and per-process cache) a spacy-udpipe pipeline.

    Raises ImportError when spacy_udpipe is not installed — callers that
    want a soft fallback catch it (``make_text_tagger``).  Mirrors
    create_udpipe_pipeline (udpipe_data.py:17-26) minus the implicit
    network download: a missing model raises with the download command
    instead of fetching inside a feature pipeline.
    """
    import spacy_udpipe  # ImportError -> caller decides (heuristic or raise)

    if lang not in _UDPIPE_PIPELINES:
        try:
            _UDPIPE_PIPELINES[lang] = spacy_udpipe.load(lang)
        except Exception as exc:  # model not downloaded, bad lang, ...
            raise ValueError(
                f"UDPipe model for {lang!r} failed to load; run "
                f"spacy_udpipe.download({lang!r}) once on each node first"
            ) from exc
    return _UDPIPE_PIPELINES[lang]


def tag_text_udpipe(nlp, text: str) -> Tuple[list, list, list]:
    """(tokens, pos_tags, dep_tags) from a UDPipe pipeline over raw text.

    Token derivation mirrors the reference exactly (elmo_ner.py:402-415):
    each spacy token is whitespace-split and every part repeats the parent
    token's pos_/dep_ — so multi-word UDPipe tokens stay aligned 1:1 with
    the emitted token list.
    """
    tokens, pos_tags, dep_tags = [], [], []
    for spacy_token in nlp(text):
        for part in spacy_token.text.split():
            tokens.append(part)
            pos_tags.append(spacy_token.pos_)
            dep_tags.append(spacy_token.dep_)
    return tokens, pos_tags, dep_tags


def make_text_tagger(lang: str | None = None, strict: bool = False):
    """``text -> (tokens, pos_tags, dep_tags)`` tagger factory.

    The pluggable seam behind the linguistic one-hot channel (§2.10): REAL
    UD tags when ``lang`` is given and spacy-udpipe is importable, else
    the pinned deterministic heuristic with the in-repo tokenizer (unlike
    the codec seams in operators/multimodal.py, which raise when their
    package is missing).  ``strict=True`` raises ImportError instead of
    silently falling back — for callers that must not train on heuristic
    tags.  Both paths return the same shape, so downstream
    ``pos_dep_one_hot`` consumes either.
    """
    if lang is not None:
        try:
            nlp = load_udpipe(lang)
        except ImportError:
            if strict:
                raise
        else:
            return lambda text: tag_text_udpipe(nlp, text)

    def heuristic(text: str) -> Tuple[list, list, list]:
        toks = [t for t, _, _ in tokenize_with_bounds(text)]
        tags = [heuristic_pos_dep(t, i) for i, t in enumerate(toks)]
        return toks, [p for p, _ in tags], [d for _, d in tags]

    return heuristic


def pos_dep_one_hot(pos: str, dep: str) -> np.ndarray:
    """18+48 one-hot of POS tag + dependency tag parts (elmo_ner.py:514-531)."""
    vec = np.zeros(len(UNIVERSAL_POS_TAGS) + len(UNIVERSAL_DEPENDENCIES), dtype=np.float32)
    pi = _POS_INDEX.get(pos, -1)
    if pi < 0:
        raise ValueError(f"Part-of-speech tag `{pos}` is unknown!")
    vec[pi] = 1.0
    ok = False
    for part in split_dependency_tag(dep):
        di = _DEP_INDEX.get(part, -1)
        if di >= 0:
            vec[len(UNIVERSAL_POS_TAGS) + di] = 1.0
            ok = True
    if not ok:
        raise ValueError(f"Dependency tag `{dep}` is unknown!")
    return vec


# --- deterministic hash-projection embedder ----------------------------------


@lru_cache(maxsize=1 << 18)
def hash_embedding(token: str, dim: int = 16) -> np.ndarray:
    """Seeded, hermetic stand-in for the ELMo/BERT embedding lookup.

    The reference treats the embedder as a black-box deterministic function
    of the token (elmo_ner.py:695-697); parity is on feature *assembly*
    (concat order embedding ‖ shape ‖ linguistic, elmo_ner.py:713-719).
    blake2b keeps this stable across processes/JVMs (no PYTHONHASHSEED).
    """
    import hashlib

    h = hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest()
    rng = np.random.default_rng(int.from_bytes(h, "big"))
    v = rng.standard_normal(dim).astype(np.float32)
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v
