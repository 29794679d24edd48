"""Seeded inputs for the benchmark: corpus, query stream, live batches.

This module is the benchmark's own copy of the transcript generator, so
later edits to ``cuely_spark/datagen.py`` cannot change what the
benchmark measures. Everything is a pure function of ``seed``.

Corpus properties (why they are there):

- Zipf-distributed words over a 20k vocabulary: hot terms have long
  posting lists (block-max pruning, many decoded blocks), tail terms
  short ones (plan and fixed cost dominate).
- anchor words at fixed Zipf ranks ("the", "test", "example", "website",
  "xylophonequark") so the reference queries hit known list lengths.
- the sentence "this is the best example website ever" planted into ~1%
  of turns with repetition 1-3 (phrase matches with varied tf).
- special-character turns ("c++", "café", "123 33", CJK) for the
  tokenizer paths of the reference queries.
- ~0.5% duplicate texts (equal scores, so doc-id tie-breaks matter).
- lengths 1..120 tokens with a 0.2% tail up to 3000 (fieldnorm spread,
  multi-block postings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 20_000
PLANTED = "this is the best example website ever"
SPECIAL_TEXTS = (
    "a C++ blog post about example.com and path/test",
    "unicode test æble café smells nice",
    "test 漢.com and katakana ダ.com",
    "numbers 123 33 and the test string",
    "single",
    "this is a query about the best website",
    "this is a query that mentions a test",
)
_SYLLABLES = (
    "ba", "co", "di", "fu", "ge", "ha", "ki", "lo", "mu", "ne",
    "po", "qua", "ri", "so", "tu", "ve", "wi", "xo", "yu", "za",
    "tra", "ser", "min", "dor", "lex", "pan", "vor", "keth", "sul", "ram",
)
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["", "bash", "search", "python"])

#: bench.py's 12 reference queries, verbatim, so the two harnesses can be
#: read side by side
REFERENCE_QUERIES = (
    "test",
    "example website",
    "this is the best example",
    '"test website"',
    '"this is a" query',
    "c++",
    "café",
    "123 33",
    "the",
    "xylophonequark",
    "zzzabsentterm",
    "website -test",
)

#: query classes of the stream and why each exists
QUERY_CLASSES = {
    "reference": "bench.py's 12 queries: comparable with the existing "
                 "per-query medians",
    "hot": "one Zipf-head term: longest posting lists, block-max pruning "
           "decides how many blocks are decoded",
    "mid": "one mid-frequency term: short lists, plan and read fixed "
           "cost dominate",
    "and": "2-5 term conjunction: leapfrog intersection, several lists "
           "read per query",
    "phrase": "2-3 consecutive words cut from the corpus: positions "
              "stream read and verified",
    "not": "term with an excluded term: MustNot decode of a second list",
    "rare": "Zipf-tail term (df 0-3): the query is almost all fixed cost",
    "absent": "term absent from the corpus: the plan must stop before "
              "any posting read",
}

#: Zipf exponent of query popularity in the stream
STREAM_ZIPF = 0.6
#: vocabulary ranks of the hot and mid single-term queries. Every query
#: of the pool is built from fixed ranks or rank bands, so the seed
#: changes the words but not their frequencies, and the cost mix of the
#: stream stays the same from seed to seed (ranks 0 and 5 are "the" and
#: "test", asked among the reference queries)
HOT_RANKS = (1, 2, 3, 4, 6, 7)
MID_RANKS = tuple(int(r) for r in np.geomspace(100, 3000, 12).round())
#: phrase j holds a word ranked in PHRASE_BANDS[j % 3] and none ranked
#: lower: a Zipf-head word (long position lists), a middle one, or only
#: words past rank 100
PHRASE_BANDS = ((0, 10), (10, 100), (100, VOCAB_SIZE))


def vocabulary(seed: int) -> np.ndarray:
    """Deterministic pronounceable word list with anchors at fixed ranks."""
    rng = np.random.default_rng([seed, 1])
    n_syll = rng.integers(2, 5, size=VOCAB_SIZE)
    picks = rng.integers(0, len(_SYLLABLES), size=(VOCAB_SIZE, 4))
    words, seen = [], set()
    for i in range(VOCAB_SIZE):
        w = "".join(_SYLLABLES[j] for j in picks[i, : n_syll[i]])
        if w in seen:
            w = f"{w}{i}"
        seen.add(w)
        words.append(w)
    for rank, w in ((0, "the"), (5, "test"), (12, "example"),
                    (13, "website"), (VOCAB_SIZE - 1, "xylophonequark")):
        words[rank] = w
    return np.array(words, dtype=object)


def corpus(n_turns: int, seed: int, part: int = 0) -> pd.DataFrame:
    """Transcript turns: conv_id, turn_idx, role, text, tool, ts.

    ``ts`` is datetime64[us]: Spark 4 rejects the nanosecond timestamps
    pyarrow writes by default. Parts of one seed (the bulk corpus and
    the live stream) share the vocabulary but draw different turns and
    conversation ids."""
    rng = np.random.default_rng([seed, 2, part])
    vocab = vocabulary(seed)

    sizes = rng.integers(1, 41, size=n_turns // 10 + 2)
    sizes = sizes[: int(np.searchsorted(np.cumsum(sizes), n_turns)) + 1]
    sizes[-1] -= int(sizes.sum()) - n_turns
    sizes = sizes[sizes > 0]
    n = int(sizes.sum())
    conv = np.repeat(np.arange(sizes.size), sizes)
    first = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn_idx = (np.arange(n) - first).astype(np.int32)

    lens = np.clip(rng.lognormal(2.7, 0.8, size=n).astype(np.int64), 1, 120)
    long_rows = rng.choice(n, size=max(1, n // 500), replace=False)
    lens[long_rows] = rng.integers(200, 3001, size=long_rows.size)

    pmf = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(pmf / pmf.sum())
    tok = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum())),
                                     side="right"), VOCAB_SIZE - 1)
    words = vocab[tok]
    starts = np.cumsum(lens) - lens
    texts = [" ".join(words[s:s + k]) for s, k in zip(starts, lens)]

    planted = rng.choice(n, size=max(1, n // 100), replace=False)
    for r, rep in zip(planted, rng.integers(1, 4, size=planted.size)):
        texts[r] = " ".join([PLANTED] * int(rep)) + " " + texts[r]
    for j, st in enumerate(SPECIAL_TEXTS):
        texts[(j * 997 + 17) % n] = st
    dst = rng.choice(n, size=max(1, n // 200), replace=False)
    for d, s in zip(dst, rng.integers(0, n, size=dst.size)):
        texts[d] = texts[s]

    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (conv * 3600 + turn_idx.astype(np.int64) * 13)
          * np.timedelta64(1, "s"))
    return pd.DataFrame({
        "conv_id": [f"conv-{part}-{c:07d}" for c in conv],
        "turn_idx": turn_idx,
        "role": _ROLES[np.arange(n) % 4],
        "text": texts,
        "tool": _TOOLS[rng.integers(0, 4, size=n)],
        "ts": ts.astype("datetime64[us]"),
    })


def query_pool(seed: int, texts: list[str]) -> list[tuple[str, str]]:
    """Distinct (query, class) pairs; phrases are cut from ``texts``."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(seed)

    def words(lo: int, hi: int, k: int) -> list[str]:
        return [str(vocab[i]) for i in rng.choice(np.arange(lo, hi), k,
                                                  replace=False)]

    pool = [(q, "reference") for q in REFERENCE_QUERIES]
    pool += [(str(vocab[r]), "hot") for r in HOT_RANKS]
    pool += [(str(vocab[r]), "mid") for r in MID_RANKS]
    for j in range(16):
        # 1-2 Zipf-head terms (ranks 8-39) and 1-3 mid terms (40-799)
        hot = [8 + (3 * j + 7 * t) % 32 for t in range(1 + j % 2)]
        mid = [40 + (37 * j + 151 * t) % 760 for t in range(1 + j % 3)]
        pool.append((" ".join(str(vocab[r]) for r in hot + mid), "and"))
    rank = {str(w): r for r, w in enumerate(vocab)}
    plain = [t.split() for t in texts]
    plain = [ws for ws in plain if len(ws) >= 4
             and all(w.isalpha() and w.isascii() for w in ws)]
    phrases: list[str] = []
    for i in rng.permutation(len(plain)):
        if len(phrases) == 12:
            break
        j = len(phrases)
        ws = plain[int(i)]
        length = 2 + j % 2
        start = int(rng.integers(0, len(ws) - length + 1))
        cut = ws[start:start + length]
        lo, hi = PHRASE_BANDS[j % 3]
        q = '"' + " ".join(cut) + '"'
        if (lo <= min(rank.get(w, VOCAB_SIZE) for w in cut) < hi
                and q not in phrases):
            phrases.append(q)
    pool += [(q, "phrase") for q in phrases]
    for j in range(8):
        # a term ranked 2-49 minus one ranked 50-399
        a, b = 2 + (7 * j) % 48, 50 + (43 * j) % 350
        pool.append((f"{vocab[a]} -{vocab[b]}", "not"))
    pool += [(w, "rare") for w in words(VOCAB_SIZE - 2000, VOCAB_SIZE - 1, 8)]
    letters = np.array(list("bcdfghjkmnpstvw"))
    for _ in range(6):
        pool.append(("zzq" + "".join(rng.choice(letters, 8)), "absent"))
    seen: set[str] = set()
    out = []
    for q, cls in pool:
        if q not in seen:
            seen.add(q)
            out.append((q, cls))
    return out


def query_stream(pool: list[tuple[str, str]], seed: int, length: int
                 ) -> list[tuple[str, str]]:
    """Zipf-popular draw from ``pool``, class-balanced.

    Classes take turns in proportion to their share of the pool (smooth
    weighted round-robin), so every prefix of the stream, however short
    the timed loop, has the pool's class mix and the cost mix does not
    depend on the seed's luck. Within a class, the r-th query of the
    pool is drawn with weight 1/(r+1)^STREAM_ZIPF, so popular queries
    repeat and a tail appears once. Popularity follows pool order, which
    is built the same way for every seed, so the seed picks the draws
    but not which kind of query is popular."""
    rng = np.random.default_rng([seed, 4])
    members: dict[str, list[tuple[str, str]]] = {}
    for q, c in pool:
        members.setdefault(c, []).append((q, c))
    names = list(members)
    share = np.array([len(members[c]) for c in names], dtype=np.float64)
    draws = {}
    for c in names:
        n = len(members[c])
        w = 1.0 / np.arange(1, n + 1) ** STREAM_ZIPF
        draws[c] = iter(rng.choice(n, size=length, p=w / w.sum()))
    credit = np.zeros(len(names))
    out = []
    for _ in range(length):
        credit += share
        j = int(np.argmax(credit))
        credit[j] -= share.sum()
        c = names[j]
        out.append(members[c][int(next(draws[c]))])
    return out


def repeat_share(stream: list[tuple[str, str]]) -> float:
    """Share of stream entries whose query already appeared earlier."""
    if not stream:
        return 0.0
    return 1.0 - len({q for q, _ in stream}) / len(stream)

