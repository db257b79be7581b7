"""Seeded input generators for the benchmark workloads.

Self-contained on purpose: nothing here imports the package's own
fixtures, so editing those cannot shift a workload. The same seed and
sizes give byte-identical tables. Shapes that the work depends on (row
counts, the conversation-size distribution, cluster counts) are fixed
by the sizes alone; the seed only moves values, so timings from two
seeds measure the same amount of work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BASE_TS_MS = 1_704_067_200_000          # 2024-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["none", "search", "code", "browser", "files", "shell"])
SEGMENTS = np.array(["free", "pro", "team", "enterprise"])
SESSION_GAP_MS = 30 * 60 * 1000


def zipf_sizes(n_convs: int, a: float, max_turns: int) -> np.ndarray:
    """Conversation sizes with a Zipf(a) tail, taken from the rank-size
    relation instead of random draws: the r-th largest of n Zipf(a)
    draws is about (n / r) ** (1 / (a - 1)). Deterministic, so the
    longest conversation (the straggler task) is the same on every
    seed."""
    r = np.arange(1, n_convs + 1, dtype=np.float64)
    sizes = np.floor((n_convs / r) ** (1.0 / (a - 1.0)))
    return np.clip(sizes, 1, max_turns).astype(np.int64)


def transcripts(seed: int, n_convs: int, zipf_a: float = 1.5,
                max_turns: int = 4000, null_ts_frac: float = 0.02,
                dup_ts_frac: float = 0.05) -> pd.DataFrame:
    """Turn table ``(conv_id, turn_idx, role, tool, n_tokens, text, ts)``.

    Zipf conversation sizes; ``dup_ts_frac`` of turns repeat the previous
    turn's ts (tie cases); 2% of gaps exceed the session gap; a
    ``null_ts_frac`` share of ts is NULL (dropped by the window
    operators)."""
    rng = np.random.default_rng([seed, 1])
    sizes = zipf_sizes(n_convs, zipf_a, max_turns)
    n = int(sizes.sum())
    conv_ord = np.repeat(np.arange(n_convs), sizes)
    conv_id = np.char.add("c", np.char.zfill(conv_ord.astype(str), 6))
    first = np.zeros(n, dtype=bool)
    first[np.concatenate([[0], np.cumsum(sizes)[:-1]])] = True
    turn_idx = np.arange(n) - np.repeat(np.flatnonzero(first), sizes)

    deltas = rng.integers(500, 90_000, size=n)
    deltas[rng.random(n) < dup_ts_frac] = 0
    jump = rng.random(n) < 0.02
    deltas[jump] = SESSION_GAP_MS + rng.integers(1_000, 3_600_000,
                                                 size=int(jump.sum()))
    deltas[first] = 0
    cum = np.cumsum(deltas)
    within = cum - np.repeat(cum[first], sizes)
    start = rng.integers(0, 20 * 86_400_000, size=n_convs)
    ts_ms = BASE_TS_MS + np.repeat(start, sizes) + within

    n_tokens = rng.geometric(1 / 40, size=n).astype(np.int64)
    words = np.array(["ok", "sure", "run", "the", "tests", "again", "why",
                      "fails", "here", "is", "a", "patch", "thanks"])
    nw = rng.integers(0, 6, size=n)
    flat = words[rng.integers(0, len(words), size=int(nw.sum()))]
    text = np.array([" ".join(w) for w in np.split(flat, np.cumsum(nw)[:-1])],
                    dtype=object)
    text[rng.random(n) < 0.02] = None

    ts = pd.to_datetime(ts_ms, unit="ms").astype("datetime64[us]")
    pdf = pd.DataFrame({
        "conv_id": conv_id,
        "turn_idx": turn_idx.astype(np.int32),
        "role": ROLES[rng.integers(0, len(ROLES), size=n)],
        "tool": TOOLS[rng.integers(0, len(TOOLS), size=n)],
        "n_tokens": n_tokens,
        "text": text,
        "ts": ts,
    })
    pdf.loc[rng.random(n) < null_ts_frac, "ts"] = pd.NaT
    return pdf


def conv_meta(seed: int, turns: pd.DataFrame, max_versions: int = 6,
              extra_convs: int = 50) -> pd.DataFrame:
    """Versioned per-conversation attributes for the as-of join:
    ``(conv_id, ts, version, segment, score)``. Versions are spread from
    before a conversation's first turn to after its last (future
    versions must never join), 10% of versions share a ts with another
    version of the same conversation (broken by ``version``), 5% of
    scores are NULL, and ``extra_convs`` ids never occur in ``turns``."""
    rng = np.random.default_rng([seed, 2])
    span = (turns.dropna(subset=["ts"])
            .groupby("conv_id")["ts"].agg(["min", "max"]))
    lo = span["min"].astype("int64").to_numpy() // 1000
    hi = span["max"].astype("int64").to_numpy() // 1000
    ids = span.index.to_numpy().astype(str)
    extra = np.char.add("x", np.char.zfill(np.arange(extra_convs).astype(str),
                                           6))
    ids = np.concatenate([ids, extra])
    lo = np.concatenate([lo, np.full(extra_convs, BASE_TS_MS)])
    hi = np.concatenate([hi, np.full(extra_convs, BASE_TS_MS + 86_400_000)])
    nv = rng.integers(1, max_versions + 1, size=len(ids))
    n = int(nv.sum())
    rep = np.repeat(np.arange(len(ids)), nv)
    width = (hi - lo)[rep] + 3_600_000
    ts_ms = lo[rep] - 1_800_000 \
        + (rng.random(n) * width * 1.2).astype(np.int64)
    tie = rng.random(n) < 0.10
    ts_ms[tie] = lo[rep][tie]
    score = np.round(rng.random(n) * 100, 3)
    score[rng.random(n) < 0.05] = np.nan
    return pd.DataFrame({
        "conv_id": ids[rep],
        "ts": pd.to_datetime(ts_ms, unit="ms").astype("datetime64[us]"),
        "version": np.arange(n, dtype=np.int64) % 1000,
        "segment": SEGMENTS[rng.integers(0, len(SEGMENTS), size=n)],
        "score": score,
    })


# ---------------------------------------------------------------------------
# documents

STOPWORDS = np.array("the of and to in is that for it as with was on be by "
                     "this are from or at an not have which but".split())
BOILERPLATE = np.array([
    "Accept all cookies to continue browsing this site",
    "Home | About | Contact | Privacy Policy",
    "Subscribe to our newsletter for weekly updates",
    "Copyright 2024 Example Media Group. All rights reserved.",
    "Share this article on social media",
    "Click here to read more stories like this one",
    "Sign in or create an account to leave a comment",
    "Related posts you might also enjoy reading",
])
VOCAB_SIZE = 20_000
NEAR_DUP_RATE = 0.04        # share of docs that are a one-word edit of another
EXACT_DUP_RATE = 0.03       # share of docs that are a byte copy of another
BOILERPLATE_RATE = 0.30     # share of docs carrying 1-2 boilerplate lines
PII_RATE = 0.05             # share of docs carrying an email or phone number
N_BENCH_DOCS = 20           # doc_id < 20 stands in for an eval set


def _vocab(rng: np.random.Generator) -> np.ndarray:
    syll = np.array([c + v for c in "bcdfghklmnprstvwz" for v in "aeiou"])
    k = rng.integers(2, 5, size=VOCAB_SIZE)
    parts = syll[rng.integers(0, len(syll), size=int(k.sum()))]
    return np.array(["".join(p) for p in np.split(parts, np.cumsum(k)[:-1])])


def documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, list]:
    """Document corpus ``(doc_id, text, lang, source, n_chars)`` and its
    planted exact-duplicate ``(original, copy)`` id pairs.

    Vocabulary of ``VOCAB_SIZE`` pseudo-words drawn Zipf-like, plus
    stopwords at ~25% of tokens, so unrelated docs rarely collide in LSH
    bands. Planted: exact-duplicate pairs (``EXACT_DUP_RATE``), one-word
    near-duplicates (``NEAR_DUP_RATE``), boilerplate lines
    (``BOILERPLATE_RATE``), PII (``PII_RATE``), NULL text and
    whitespace-edged text. Exact-duplicate originals are clean docs in
    full-rate sources, disjoint from the near-duplicate sources, so each
    such pair must end the pipeline with exactly one doc."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 0.8
    p /= p.sum()

    n_exact = int(n_docs * EXACT_DUP_RATE)
    n_near = int(n_docs * NEAR_DUP_RATE)
    n_base = n_docs - n_exact - n_near
    n_lines = rng.integers(2, 6, size=n_base)
    n_words = rng.integers(6, 13, size=int(n_lines.sum()))
    words = vocab[rng.choice(VOCAB_SIZE, size=int(n_words.sum()), p=p)]
    sw = rng.random(len(words)) < 0.25
    words[sw] = STOPWORDS[rng.integers(0, len(STOPWORDS), size=int(sw.sum()))]
    lines = [" ".join(w) for w in np.split(words, np.cumsum(n_words)[:-1])]
    bounds = np.concatenate([[0], np.cumsum(n_lines)])
    texts = ["\n".join(lines[bounds[i]:bounds[i + 1]]) for i in range(n_base)]
    source = rng.choice(np.array(["src0", "src1", "src2", "src3"]),
                        size=n_base).astype(object)
    kind = np.array(["base"] * n_base, dtype=object)
    # originals: exact-dup and near-dup sources are disjoint, and both
    # avoid the eval-set ids
    pool = rng.permutation(np.arange(N_BENCH_DOCS, n_base))
    long3 = pool[n_lines[pool] >= 3]
    exact_src = long3[:n_exact]
    near_src = pool[~np.isin(pool, exact_src)][:n_near]
    for i in exact_src:
        # clean by construction: 3+ lines and a Gopher stopword, so the
        # quality filter keeps the pair and dedup must leave one doc
        texts[i] = "the " + texts[i]
        source[i] = "src2"
        kind[i] = "exact_orig"

    # boilerplate and PII on base docs (copies inherit them verbatim)
    for i in np.flatnonzero(rng.random(n_base) < BOILERPLATE_RATE):
        ls = texts[i].split("\n")
        for b in rng.choice(BOILERPLATE, size=int(rng.integers(1, 3)),
                            replace=False):
            ls.insert(int(rng.integers(0, len(ls) + 1)), str(b))
        texts[i] = "\n".join(ls)
    for i in np.flatnonzero(rng.random(n_base) < PII_RATE):
        tag = (f"mail user{int(rng.integers(1e6))}@example.com"
               if rng.random() < 0.5 else
               f"call 555-{int(rng.integers(100, 999))}-"
               f"{int(rng.integers(1000, 9999))}")
        texts[i] = texts[i] + " " + tag

    copies, near = [], []
    for i in exact_src:
        copies.append(texts[i])
    for i in near_src:
        ls = texts[i].split("\n")
        j = int(rng.integers(0, len(ls)))
        w = ls[j].split(" ")
        w[int(rng.integers(0, len(w)))] = str(vocab[rng.integers(VOCAB_SIZE)])
        ls[j] = " ".join(w)
        near.append("\n".join(ls))
    all_text = np.array(texts + copies + near, dtype=object)
    all_source = np.concatenate([source, ["src2"] * n_exact,
                                 rng.choice(["src0", "src1", "src2", "src3"],
                                            size=n_near)]).astype(object)
    all_kind = np.concatenate([kind, ["exact_copy"] * n_exact,
                               ["near_copy"] * n_near]).astype(object)

    # shuffle ids past the eval-set block so copies are not always the
    # larger id of their pair
    perm = np.concatenate([np.arange(N_BENCH_DOCS),
                           N_BENCH_DOCS + rng.permutation(n_docs
                                                          - N_BENCH_DOCS)])
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[perm] = np.arange(n_docs)
    # NULL and whitespace-edged text on plain base docs only
    plain = np.flatnonzero((all_kind == "base")
                           & (np.arange(n_docs) >= N_BENCH_DOCS))
    plain = plain[~np.isin(plain, near_src)]
    edge = rng.choice(plain, size=int(0.06 * n_docs), replace=False)
    for i in edge[: len(edge) // 6]:
        all_text[i] = None
    for i in edge[len(edge) // 6:]:
        all_text[i] = rng.choice(["\t", "\n", "  ", " \r\n"]) + all_text[i] \
            + rng.choice(["\t", "\n", "  ", ""])

    n_chars = np.array([len(t) if t is not None else 0 for t in all_text],
                       dtype=np.int64)
    pdf = pd.DataFrame({
        "doc_id": doc_id,
        "text": all_text,
        "lang": "en",
        "source": all_source,
        "n_chars": n_chars,
    }).sort_values("doc_id", kind="stable").reset_index(drop=True)
    exact_pairs = [(int(doc_id[i]), int(doc_id[n_base + k]))
                   for k, i in enumerate(exact_src)]
    return pdf, exact_pairs
