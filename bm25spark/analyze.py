"""Analyzers (text -> token multiset) and term-key interning.

The reference keeps tokenization *outside* the index (pg_tokenizer /
`to_tsvector`; see /root/reference/src/datatype/tsvector.rs:84-94 and
README.md:126-139), so analyzers here are our own, pluggable via
``Bm25Config.analyzer``:

- ``simple``  — lowercase + split on non-[a-z0-9] runs. Deliberately
  expressible in ANSI SQL (``regexp_split``) so every Spark pipeline
  built on it has a DuckDB oracle.
- ``code``    — source-code aware: NFKD, camelCase / snake_case /
  digit-boundary splitting, emits both the identifier and its parts.
- ``english`` — PostgreSQL-``to_tsvector('english', …)``-alike:
  lowercase, hyphen-compound handling (emit whole word and parts),
  Snowball stopword list, Porter2 stemming. Used to reproduce the
  reference's sqllogictest golden orderings.

``intern`` maps a token to a fixed 16-byte key exactly like the
reference (/root/reference/crates/bm25/src/vector.rs:19-35): strings
shorter than 16 bytes containing no NUL are stored raw, zero-padded;
longer ones take the first 16 bytes of ``blake3::keyed_hash(seed,
token)`` with the last byte forced nonzero — keyed BLAKE3 via the
pure-Python from-the-spec implementation in :mod:`bm25spark.blake3`,
so term keys are byte-identical to the reference for every token
(the pre-round-3 blake2b fallback survives as ``intern_blake2b`` for
format-v1 artifacts). A fourth built-in analyzer, ``unicode``, covers
CJK text with character bigrams (see :func:`tokenize_unicode`).
"""

from __future__ import annotations

import hashlib
import re
import unicodedata
from collections import Counter
from collections.abc import Callable, Iterable

from .blake3 import keyed_hash as blake3_keyed_hash
from .config import KEY_WIDTH
from .porter2 import stem

# PostgreSQL's english.stop (= the Snowball English stopword list).
SNOWBALL_STOPWORDS = frozenset(
    """i me my myself we our ours ourselves you your yours yourself
    yourselves he him his himself she her hers herself it its itself
    they them their theirs themselves what which who whom this that
    these those am is are was were be been being have has had having
    do does did doing a an the and but if or because as until while
    of at by for with about against between into through during
    before after above below to from up down in out on off over
    under again further then once here there when where why how all
    any both each few more most other some such no nor not only own
    same so than too very s t can will just don should now""".split()
)

_SIMPLE_RE = re.compile(r"[a-z0-9]+")
_WORD_RE = re.compile(r"[a-z0-9]+(?:-[a-z0-9]+)*")
_CAMEL_RE = re.compile(
    r"[A-Z]+(?![a-z])|[A-Z][a-z]+|[a-z]+|[0-9]+"
)
_IDENT_RE = re.compile(r"[A-Za-z0-9_]+")


def tokenize_simple(text: str) -> list[str]:
    """lowercase + split on non-alphanumeric runs (SQL-replicable)."""
    return _SIMPLE_RE.findall(text.lower())


def tokenize_code(text: str) -> list[str]:
    """Code-aware analyzer: identifiers split on ``_``, camelCase and
    digit boundaries; emits the lowercased parts.

    One global findall: the part regex only matches [A-Za-z0-9] runs,
    so it cannot cross ``_``, punctuation, or whitespace — matching it
    over the whole text yields exactly the union of per-identifier,
    per-piece matches (the previous two-stage form, kept verbatim in
    tests as the equivalence reference) at ~3x the speed."""
    text = unicodedata.normalize("NFKD", text)
    return [p.lower() for p in _CAMEL_RE.findall(text)]


def tokenize_english(text: str) -> list[str]:
    """PostgreSQL ``to_tsvector('english', …)``-alike.

    Hyphenated compounds emit the whole word plus each part (PG's
    hword/hword_part behaviour); stopword parts are dropped; surviving
    tokens are Porter2-stemmed.
    """
    out: list[str] = []
    for w in _WORD_RE.findall(text.lower()):
        if "-" in w:
            if w not in SNOWBALL_STOPWORDS:
                out.append(stem(w))
            for part in w.split("-"):
                if part and part not in SNOWBALL_STOPWORDS:
                    out.append(stem(part))
        elif w not in SNOWBALL_STOPWORDS:
            out.append(stem(w))
    return out


# Unicode ranges treated as unsegmented CJK text (Han, Hiragana,
# Katakana incl. halfwidth, Hangul syllables/jamo, CJK extensions).
_CJK_RE = re.compile(
    "["
    "⺀-⻿"  # CJK radicals
    "぀-ヿ"  # hiragana + katakana
    "㄰-㆏"  # hangul compat jamo
    "㐀-䶿"  # CJK ext A
    "一-鿿"  # CJK unified
    "가-힯"  # hangul syllables
    "豈-﫿"  # CJK compat
    "･-ﾟ"  # halfwidth katakana
    "ㇰ-ㇿ"  # katakana phonetic extensions (Ainu)
    "\U00020000-\U0002ebef"  # CJK ext B-F (supplementary plane)
    "\U0002f800-\U0002fa1f"  # CJK compat ideographs supplement
    "]+"
)
_UNI_WORD_RE = re.compile(r"[^\W_]+", re.UNICODE)


def tokenize_unicode(text: str) -> list[str]:
    """Language-agnostic analyzer: alphanumeric words for segmented
    scripts + overlapping character bigrams for CJK runs — the classic
    CJK-bigram indexing strategy (Lucene's CJKAnalyzer approach),
    which is the self-contained analogue of the reference's external
    jieba/lindera tokenizer configs (README.md:174-344). Dictionary
    segmenters plug in via :func:`register_analyzer`; this built-in
    guarantees every script is at least searchable out of the box.

    NFKC-normalized, lowercased. A lone CJK char (run length 1) is
    emitted as a unigram so it stays findable."""
    text = unicodedata.normalize("NFKC", text).lower()
    out: list[str] = []
    for w in _UNI_WORD_RE.findall(text):
        pos = 0
        for m in _CJK_RE.finditer(w):
            if m.start() > pos:
                out.append(w[pos:m.start()])
            run = m.group()
            if len(run) == 1:
                out.append(run)
            else:
                out.extend(run[i:i + 2] for i in range(len(run) - 1))
            pos = m.end()
        if pos < len(w):
            out.append(w[pos:])
    return out


ANALYZERS: dict[str, Callable[[str], list[str]]] = {
    "simple": tokenize_simple,
    "code": tokenize_code,
    "english": tokenize_english,
    "unicode": tokenize_unicode,
}

#: name -> content fingerprint of the analyzer's *behavior-defining
#: data* (wordlist hash for dictionary analyzers, the literal
#: ``builtin:`` tag for in-tree ones). Stored in ``meta.json`` at
#: build time and re-checked at index open, so reopening an index
#: under the same analyzer NAME but a different wordlist fails loudly
#: instead of silently tokenizing queries differently. Custom
#: ``register_analyzer`` registrations may pass ``fingerprint=None``,
#: which disables the check for that analyzer (documented opt-out).
ANALYZER_FINGERPRINTS: dict[str, str] = {
    name: f"builtin:{name}" for name in ANALYZERS
}


def get_analyzer(name: str) -> Callable[[str], list[str]]:
    try:
        return ANALYZERS[name]
    except KeyError:
        raise ValueError(f"unknown analyzer {name!r}; have {sorted(ANALYZERS)}")


def analyzer_fingerprint(name: str) -> str | None:
    """The currently-registered fingerprint for ``name`` (None when the
    registration opted out of fingerprinting)."""
    return ANALYZER_FINGERPRINTS.get(name)


def check_analyzer_fingerprint(name: str, expected: str | None) -> None:
    """Raise when the registered analyzer ``name`` provably differs
    from the one an index was built with (``expected`` from
    meta.json). Skipped when either side is unfingerprinted (old
    indexes; opt-out registrations)."""
    if expected is None:
        return
    current = ANALYZER_FINGERPRINTS.get(name)
    if current is not None and current != expected:
        raise ValueError(
            f"analyzer {name!r} is registered with fingerprint "
            f"{current!r} but this index was built with {expected!r} — "
            "the wordlist/configuration behind the name changed, so "
            "queries would tokenize differently from the indexed "
            "corpus. Re-register the original analyzer (same wordlist) "
            "or rebuild/vacuum the index with the new one."
        )


def make_dict_analyzer(
    words: "list[str] | set[str]", name: str | None = None
) -> Callable[[str], list[str]]:
    """Dictionary-driven CJK segmentation: greedy forward maximum
    matching (MaxMatch — the classic public baseline the jieba/lindera
    class of tokenizers improves on) over a caller-supplied wordlist,
    falling back to the ``unicode`` analyzer's bigrams for CJK spans
    the dictionary doesn't cover and to plain word tokens elsewhere.
    Dependency-free, so the "dictionary segmenters plug in via
    register_analyzer" boundary has a working in-tree instance; swap
    in jieba/lindera with the same one-liner where those libs exist.

    ``name`` registers the analyzer immediately (the returned function
    is also usable unregistered, e.g. for ad-hoc tokenize calls),
    fingerprinted by a content hash of the normalized wordlist — an
    index built under that name refuses to open against a different
    wordlist (see :func:`check_analyzer_fingerprint`)."""
    vocab = {unicodedata.normalize("NFKC", w).lower() for w in words if w}
    if not vocab:
        raise ValueError("dictionary analyzer needs a non-empty wordlist")
    longest = max(len(w) for w in vocab)
    fingerprint = "dict:" + hashlib.sha256(
        "\n".join(sorted(vocab)).encode("utf-8")
    ).hexdigest()[:32]

    def _segment_cjk(run: str) -> list[str]:
        out: list[str] = []
        i, n = 0, len(run)
        while i < n:
            for ln in range(min(longest, n - i), 0, -1):
                if run[i : i + ln] in vocab:
                    out.append(run[i : i + ln])
                    i += ln
                    break
            else:
                # no dictionary word starts here: fall back to the
                # bigram (or lone-char) unit so the span stays findable
                out.append(run[i : i + 2] if i + 1 < n else run[i])
                i += 1
        return out

    def analyze(text: str) -> list[str]:
        text = unicodedata.normalize("NFKC", text).lower()
        out: list[str] = []
        for w in _UNI_WORD_RE.findall(text):
            pos = 0
            for m in _CJK_RE.finditer(w):
                if m.start() > pos:
                    out.append(w[pos:m.start()])
                out.extend(_segment_cjk(m.group()))
                pos = m.end()
            if pos < len(w):
                out.append(w[pos:])
        return out

    if name is not None:
        register_analyzer(name, analyze, fingerprint=fingerprint)
    return analyze


def _wordpiece_segment(
    word: str,
    initial: "frozenset[str]",
    cont: "frozenset[str]",
    unk: str,
    max_chars: int,
) -> list[str]:
    """Greedy longest-prefix WordPiece over one word: word-initial
    pieces from ``initial``, continuations from ``cont`` (emitted with
    the '##' marker). Any position with no match — or a word longer
    than ``max_chars`` — collapses the whole word to ``unk``, exactly
    the published BERT behavior."""
    if len(word) > max_chars:
        return [unk]
    out: list[str] = []
    pos, n = 0, len(word)
    while pos < n:
        table = initial if pos == 0 else cont
        end = n
        while end > pos and word[pos:end] not in table:
            end -= 1
        if end == pos:
            return [unk]
        out.append(word[pos:end] if pos == 0 else "##" + word[pos:end])
        pos = end
    return out


def make_wordpiece_analyzer(
    vocab: "Iterable[str]",
    name: str | None = None,
    unk: str = "[unk]",
    max_chars: int = 100,
) -> Callable[[str], list[str]]:
    """BERT-style WordPiece subword analyzer — the self-contained
    analogue of the reference ecosystem's ``bert`` tokenizer preset
    (pg_tokenizer; reference README.md:49-56 tokenizes with it). The
    algorithm is the published greedy longest-match-first subword
    segmentation: vocabulary entries starting with ``##`` match only
    word-continuations, others only word starts; an unmatchable (or
    over-``max_chars``) word becomes ``unk``. Pre-tokenization is the
    ``simple`` analyzer's lowercase word split, so the whole pipeline
    remains ANSI-SQL-replicable (recursive longest-prefix walk) and
    the driver gate can verify it end to end.

    ``name`` registers the analyzer, fingerprinted by a content hash
    of the vocabulary + unk + max_chars (same contract as
    :func:`make_dict_analyzer`). Distinct words memoize their piece
    sequence for the worker's lifetime."""
    initial_s: set[str] = set()
    cont_s: set[str] = set()
    for p in vocab:
        p = p.strip().lower()
        if not p:
            continue
        if p.startswith("##"):
            if len(p) > 2:
                cont_s.add(p[2:])
        else:
            initial_s.add(p)
    if not initial_s:
        raise ValueError("wordpiece vocab needs word-initial pieces")
    initial, cont = frozenset(initial_s), frozenset(cont_s)
    fingerprint = "wordpiece:" + hashlib.sha256(
        (
            "\n".join(sorted(initial))
            + "\n##\n"
            + "\n".join(sorted(cont))
            + f"\n{unk}\n{max_chars}"
        ).encode("utf-8")
    ).hexdigest()[:32]
    memo: dict[str, list[str]] = {}

    def analyze(text: str) -> list[str]:
        out: list[str] = []
        for w in _SIMPLE_RE.findall(text.lower()):
            pieces = memo.get(w)
            if pieces is None:
                pieces = _wordpiece_segment(w, initial, cont, unk, max_chars)
                memo[w] = pieces
            out.extend(pieces)
        return out

    if name is not None:
        register_analyzer(name, analyze, fingerprint=fingerprint)
    return analyze


def make_vocab_analyzer(
    vocab: "Iterable[str]",
    base: str = "simple",
    name: str | None = None,
) -> Callable[[str], list[str]]:
    """Corpus-trained whole-token vocabulary filter — the analogue of
    the reference ecosystem's *custom model* flow (pg_tokenizer
    ``create_custom_model_tokenizer_and_trigger``, reference
    README.md:143-166): a model trained from the corpus assigns ids to
    known tokens and out-of-vocabulary tokens simply have no id. Here:
    ``base``-analyzer tokens outside ``vocab`` are dropped. Train the
    vocabulary with :func:`bm25spark.api.train_corpus_vocab`.

    The base analyzer is captured at construction time, and the
    fingerprint covers base name + the base's own BEHAVIOR fingerprint
    (when it has one — so a pluggable base rebuilt from a different
    wordlist under the same name changes this fingerprint too) +
    vocabulary content."""
    base_fn = get_analyzer(base)
    keep = frozenset(t for t in vocab if t)
    if not keep:
        raise ValueError("vocab analyzer needs a non-empty vocabulary")
    base_fp = ANALYZER_FINGERPRINTS.get(base, "")
    fingerprint = "vocab:" + hashlib.sha256(
        (base + "\n" + base_fp + "\n" + "\n".join(sorted(keep))).encode(
            "utf-8"
        )
    ).hexdigest()[:32]

    def analyze(text: str) -> list[str]:
        return [t for t in base_fn(text) if t in keep]

    if name is not None:
        register_analyzer(name, analyze, fingerprint=fingerprint)
    return analyze


def register_analyzer(
    name: str,
    fn: Callable[[str], list[str]],
    fingerprint: str | None = None,
) -> None:
    """Plug in a custom analyzer (the extension point for the
    reference's pg_tokenizer ecosystem — jieba/lindera and friends,
    README.md:174-344, are *tokenizer configs outside the index* there
    too). The function must be a pure text -> token-list mapping; it
    ships to executors inside the tokenizer UDF's closure (cloudpickle),
    so driver-defined functions work. The index's ``meta.json`` stores
    the *name* plus the registration's ``fingerprint``: a version
    string for the analyzer's behavior (wordlist hash, config digest).
    The same registration must run before an index built with it is
    reopened, and a mismatched fingerprint fails the open loudly.
    ``fingerprint=None`` opts the analyzer out of that check."""
    if not callable(fn):
        raise TypeError("analyzer must be callable")
    ANALYZERS[name] = fn
    if fingerprint is not None:
        ANALYZER_FINGERPRINTS[name] = fingerprint
    else:
        ANALYZER_FINGERPRINTS.pop(name, None)


def intern(seed: bytes, token: bytes) -> bytes:
    """Token bytes -> 16-byte term key, byte-identical to the
    reference (vector.rs:19-35): raw zero-padded copy for short
    NUL-free tokens, else the first 16 bytes of
    ``blake3::keyed_hash(seed, token)`` with the last byte forced
    nonzero. blake3 is the pure-Python from-the-spec implementation in
    :mod:`bm25spark.blake3` (the container has no blake3 lib); its
    cost is amortized by the intern memo — once per distinct long
    token."""
    if len(token) < KEY_WIDTH and b"\x00" not in token:
        return token.ljust(KEY_WIDTH, b"\x00")
    digest = bytearray(blake3_keyed_hash(seed, token)[:KEY_WIDTH])
    if digest[-1] == 0:
        digest[-1] = 1
    return bytes(digest)


def intern_blake2b(seed: bytes, token: bytes) -> bytes:
    """Pre-round-3 intern fallback (hashlib.blake2b keyed, 16-byte
    digest). Kept for indexes built before the blake3 switch: term
    keys are baked into persisted artifacts, so reopening an old index
    needs the old map. Frozen vectors in test_core.py cover it."""
    if len(token) < KEY_WIDTH and b"\x00" not in token:
        return token.ljust(KEY_WIDTH, b"\x00")
    digest = bytearray(
        hashlib.blake2b(token, key=seed, digest_size=KEY_WIDTH).digest()
    )
    if digest[-1] == 0:
        digest[-1] = 1
    return bytes(digest)


def intern_str(seed: bytes, token: str) -> bytes:
    return intern(seed, token.encode("utf-8"))


def analyze_document(
    text: str,
    analyzer: Callable[[str], list[str]],
    seed: bytes,
    memo: dict[str, bytes] | None = None,
) -> tuple[list[tuple[bytes, int]], int]:
    """Text -> (sorted [(term_key, tf)], doc_length).

    Duplicate lexemes are merged with a saturating-add sum and the
    document length is the sum of tfs, matching
    /root/reference/src/datatype/tsvector.rs:107-127 and
    crates/bm25/src/vector.rs:76-83 (u32 saturation is unreachable at
    sane document sizes but applied for parity).

    ``memo``: optional token->key cache shared across documents —
    intern is a pure function of (seed, token) and real vocabularies
    are Zipf, so a worker-lifetime memo hits >95% after warm-up.
    """
    counts = Counter(analyzer(text))
    if memo is None:
        items = sorted(
            (intern_str(seed, tok), min(c, 0xFFFFFFFF))
            for tok, c in counts.items()
        )
    else:
        get = memo.get
        items = []
        for tok, c in counts.items():
            key = get(tok)
            if key is None:
                key = memo[tok] = intern_str(seed, tok)
            items.append((key, min(c, 0xFFFFFFFF)))
        items.sort()
    length = min(sum(c for _, c in items), 0xFFFFFFFF)
    return items, length


def analyze_query(
    text: str, analyzer: Callable[[str], list[str]], seed: bytes
) -> list[bytes]:
    """Text -> sorted, deduped term keys (reference vector.rs:96-134;
    dedup at src/datatype/tsvector.rs:96-105 — query frequencies are
    discarded)."""
    return sorted({intern_str(seed, tok) for tok in analyzer(text)})
