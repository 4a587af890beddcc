"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments: numpy
only, no Spark, so the same seed gives byte-identical inputs in any process.
Sizes are fixed by the arguments, never by the seed, so runs on different
seeds measure the same amount of work. Each generator returns its frames
plus a ``shape`` dict recording the properties the workload depends on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# content words: lowercase letters only, length >= 4, so none is a stopword
# of any language the quality filter's language vote knows
_SYLLABLES = (
    "ka ri to mu se lo va ne pi du ga fe mo ti ru ba ze co hi ly "
    "nor vek sul tam pir gon dax lem wis jor"
).split()
EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "sql"])


def vocabulary(size: int, seed: int) -> np.ndarray:
    """``size`` distinct pseudo-words built from syllables."""
    rng = np.random.default_rng(seed)
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        if len(w) >= 4 and w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def _allocate(weights: np.ndarray, total: int) -> np.ndarray:
    """Integer split of ``total`` proportional to ``weights``, each >= 1
    (largest-remainder rounding), so the sum is exactly ``total``."""
    n = len(weights)
    base = np.ones(n, dtype=np.int64)
    share = weights / weights.sum() * (total - n)
    floor = np.floor(share).astype(np.int64)
    rest = total - n - int(floor.sum())
    order = np.argsort(-(share - floor), kind="stable")
    floor[order[:rest]] += 1
    return base + floor


# ---- assemble_pit ----------------------------------------------------------

ZIPF_A = 1.8          # tail conversation lengths ~ Zipf(ZIPF_A), capped at 2000
HOT_CONVS = 2         # conversations that each hold HOT_SHARE of all turns
HOT_SHARE = 0.15
SPINE_EVERY = 6       # one label row per SPINE_EVERY turns of a conversation
SESSION_GAP_S = 1800  # the gap that starts a new session

def transcripts(
    seed: int, n_turns: int = 30_000, n_convs: int = 1_000
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Zipf-skewed conversation transcripts plus a label spine.

    ``HOT_CONVS`` conversations each hold ``HOT_SHARE`` of all turns, enough
    to exceed the hot-key cut (``2 × total / shards``) of the as-of join and
    of the sharded writer. The spine holds one label row per
    ``SPINE_EVERY`` turns at seeded instants inside each conversation's
    span. Turns come back in shuffled row order.
    """
    rng = np.random.default_rng(seed)
    hot_total = int(HOT_SHARE * n_turns) * HOT_CONVS
    tail = np.minimum(rng.zipf(ZIPF_A, size=n_convs - HOT_CONVS), 2_000).astype(float)
    lengths = np.concatenate([
        np.full(HOT_CONVS, int(HOT_SHARE * n_turns), dtype=np.int64),
        _allocate(tail, n_turns - hot_total),
    ])
    conv_ids = np.array([f"conv-{i:06d}" for i in range(n_convs)])
    conv = np.repeat(np.arange(n_convs), lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    turn = np.arange(n_turns) - np.repeat(starts, lengths)

    gap = rng.exponential(40.0, n_turns).astype(np.int64) + 1
    brk = rng.random(n_turns) < 0.04
    pause = SESSION_GAP_S + rng.exponential(SESSION_GAP_S, n_turns).astype(np.int64)
    gap = gap + np.where(brk, pause, 0)
    conv_start = rng.integers(0, 90 * 86_400, n_convs)
    cum = np.cumsum(gap)
    offset = cum - np.repeat(cum[starts] - gap[starts], lengths)
    sec = np.repeat(conv_start, lengths) + offset
    base = np.datetime64("2026-01-01T00:00:00", "us")
    ts = base + (sec * 1_000_000).astype("timedelta64[us]")

    tool_turn = rng.random(n_turns) < 0.15
    role = np.where(tool_turn, "tool", ROLES[turn % 2])
    n_words = np.where(role == "user", rng.integers(3, 8, n_turns), rng.integers(3, 25, n_turns))
    vocab = vocabulary(400, seed)
    word_idx = rng.integers(0, len(vocab), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(vocab[word_idx[bounds[i]:bounds[i + 1]]]) for i in range(n_turns)]
    tool = np.where(tool_turn | (rng.random(n_turns) < 0.05),
                    TOOLS[rng.integers(0, len(TOOLS), n_turns)], None)

    tx = pd.DataFrame({
        "conv_id": conv_ids[conv],
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    })
    tx = tx.iloc[rng.permutation(n_turns)].reset_index(drop=True)

    n_labels = np.maximum(lengths // SPINE_EVERY, 1)
    lconv = np.repeat(np.arange(n_convs), n_labels)
    span = sec[starts + lengths - 1] - sec[starts] + 600
    lsec = sec[starts][lconv] - 60 + (rng.random(len(lconv)) * span[lconv]).astype(np.int64)
    spine = pd.DataFrame({
        "conv_id": conv_ids[lconv],
        "ts": base + (lsec * 1_000_000).astype("timedelta64[us]"),
        "label": rng.integers(0, 2, len(lconv)).astype(np.int32),
    })
    shape = {
        "turns": n_turns,
        "convs": n_convs,
        "spine_rows": len(spine),
        "zipf_a": ZIPF_A,
        "hot_convs": HOT_CONVS,
        "hot_conv_turns": int(lengths[0]),
        "hot_share_total": round(hot_total / n_turns, 4),
        "max_tail_conv_turns": int(lengths[HOT_CONVS:].max()),
        "median_conv_turns": float(np.median(lengths)),
    }
    return tx, spine, shape


# ---- recipe_fit ------------------------------------------------------------

CONT = [f"c{i:02d}" for i in range(12)]   # continuous
LOWC = [f"d{i:02d}" for i in range(6)]    # low-cardinality numeric (0..9)
NOMS = [f"n{i:02d}" for i in range(6)]    # nominal strings
INFORMATIVE = ["c00", "c01", "c02", "d00", "n00"]


def feature_matrix(seed: int, n_rows: int) -> tuple[pd.DataFrame, dict]:
    """Mixed-type training matrix with planted informative features.

    Continuous features are normal draws rounded to two decimals (several
    hundred distinct values each), low-cardinality features take ten
    integer levels, nominal features three to six string levels. ``y_num``
    is a linear signal in the informative features plus noise; ``y`` is its
    sign as a two-class label.
    """
    rng = np.random.default_rng(seed)
    df = pd.DataFrame({c: np.round(rng.normal(0.0, 1.0, n_rows), 2) for c in CONT})
    for c in LOWC:
        df[c] = rng.integers(0, 10, n_rows).astype(np.float64)
    levels = {c: 3 + i % 4 for i, c in enumerate(NOMS)}
    for c in NOMS:
        names = np.array([f"{c}_l{i}" for i in range(levels[c])], dtype=object)
        df[c] = names[rng.integers(0, levels[c], n_rows)]
    effect = {"n00_l0": 0.9, "n00_l1": -0.9, "n00_l2": 0.0}
    y_num = (
        1.0 * df["c00"] + 0.8 * df["c01"] - 0.7 * df["c02"]
        + 0.8 * (df["d00"] - 4.5) / 2.87
        + df["n00"].map(effect).to_numpy()
        + rng.normal(0.0, 0.6, n_rows)
    )
    df["y_num"] = np.round(y_num, 6)
    df["y"] = np.where(df["y_num"] > 0, "pos", "neg")
    shape = {
        "rows": n_rows,
        "continuous": len(CONT),
        "low_card": len(LOWC),
        "nominal": len(NOMS),
        "continuous_distinct_min": int(min(df[c].nunique() for c in CONT)),
        "low_card_levels": 10,
        "nominal_levels": sorted(set(levels.values())),
        "informative": INFORMATIVE,
        "pos_frac": round(float((df["y"] == "pos").mean()), 4),
    }
    return df, shape


# ---- corpus_dedup ----------------------------------------------------------

FAMILY_SIZE = 4        # documents per planted duplicate family
JUNK_FRAC = 0.05       # documents short enough for the quality filter to drop
DOC_WORDS = (52, 72)   # words per document, uniform in [lo, hi)
N_QUERIES = 64


def shingle_jaccard(a: list[str], b: list[str], k: int = 3) -> float:
    """Jaccard similarity of the word ``k``-shingle sets of two documents."""
    sa = {tuple(a[i:i + k]) for i in range(len(a) - k + 1)}
    sb = {tuple(b[i:i + k]) for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def corpus(
    seed: int, n_docs: int = 600, exact_families: int = 20, near_families: int = 20
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Documents with planted duplicate families of known membership.

    * exact families: ``FAMILY_SIZE`` identical copies of one document;
    * near families: a base document and ``FAMILY_SIZE - 1`` variants, each
      with one word replaced by another at its own interior position. A
      variant shares 3 of the base's word 3-shingles less, so its Jaccard
      is about 0.9 with the base and about 0.8 with another variant;
    * junk: ``JUNK_FRAC`` of the documents are under 50 tokens, so the
      quality filter drops them; no family member is junk.

    Everything else is a unique document. Content words come from a
    4000-word vocabulary, so distinct documents share almost no shingles.
    Doc ids are a seeded permutation, so families are not contiguous.
    Returns (docs, queries, shape); ``docs`` carries a ``family`` column
    (-1 for non-family documents) that the benchmark strips before the
    program sees the corpus.
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(4000, seed + 1)
    stop = np.array(EN_STOPWORDS)

    def doc(n: int) -> list[str]:
        toks = vocab[rng.integers(0, len(vocab), n)].astype(object)
        mask = rng.random(n) < 0.25
        toks[mask] = stop[rng.integers(0, len(stop), int(mask.sum()))]
        return list(toks)

    texts: list[str] = []
    family: list[int] = []
    near_j: list[float] = []
    fid = 0
    for _ in range(exact_families):
        t = " ".join(doc(int(rng.integers(*DOC_WORDS)))) + "."
        texts += [t] * FAMILY_SIZE
        family += [fid] * FAMILY_SIZE
        fid += 1
    for _ in range(near_families):
        members = [doc(int(rng.integers(*DOC_WORDS)))]
        base = members[0]
        spots = rng.choice(np.arange(3, len(base) - 3), FAMILY_SIZE - 1, replace=False)
        for i in spots:
            variant = list(base)
            while variant[i] == base[i]:
                variant[i] = vocab[int(rng.integers(0, len(vocab)))]
            members.append(variant)
        near_j += [shingle_jaccard(x, y) for k, x in enumerate(members)
                   for y in members[k + 1:]]
        texts += [" ".join(m) + "." for m in members]
        family += [fid] * FAMILY_SIZE
        fid += 1
    n_junk = int(JUNK_FRAC * n_docs)
    n_unique = n_docs - len(texts) - n_junk
    if n_unique < 0:
        raise ValueError("families and junk exceed n_docs")
    for _ in range(n_unique):
        texts.append(" ".join(doc(int(rng.integers(*DOC_WORDS)))) + ".")
        family.append(-1)
    for _ in range(n_junk):
        texts.append(" ".join(doc(int(rng.integers(5, 30)))) + ".")
        family.append(-2)

    ids = rng.permutation(n_docs).astype(np.int64) + 1
    docs = pd.DataFrame({"doc_id": ids, "text": texts, "family": family})
    docs = docs.sort_values("doc_id", kind="stable").reset_index(drop=True)
    qwords = vocab[rng.integers(0, len(vocab), (N_QUERIES, 3))]
    queries = pd.DataFrame({
        "q_id": np.arange(N_QUERIES, dtype=np.int64),
        "query": [" ".join(q) for q in qwords],
    })
    shape = {
        "docs": n_docs,
        "exact_families": exact_families,
        "near_families": near_families,
        "family_size": FAMILY_SIZE,
        "exact_dup_frac": round(exact_families * FAMILY_SIZE / n_docs, 4),
        "near_dup_frac": round(near_families * FAMILY_SIZE / n_docs, 4),
        "junk_frac": round(n_junk / n_docs, 4),
        # word 3-shingle Jaccard between members of a near family
        "near_dup_jaccard_min": round(min(near_j, default=1.0), 3),
        "near_dup_jaccard_median": round(float(np.median(near_j)) if near_j else 1.0, 3),
        "queries": N_QUERIES,
    }
    return docs, queries, shape
