"""The benchmark's two workloads.

Each workload has three parts, all keyed by the run's ``--seed``:

- ``generate(seed)``: the inputs, built here with NumPy so that they do not
  change when the library's own generators do;
- ``pipeline(run, paths)``: the calls into the library, each made through
  ``run.call(<span>, ...)`` so the harness can label, time and (in the traced
  run) materialize it;
- ``Reference``: exact answers computed with NumPy outside the timed window,
  and the per-iteration output checks that feed ``recall_at_k`` and
  ``fail_frac``.

Inputs are small: an iteration still takes 7-15 s at ``local[4]``, most of
it per-stage and per-call cost rather than per-row work, and the whole
benchmark (2 workloads x 22 runs, each with its own JVM) must fit in an hour.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


def _make_vocab(n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words; fixed, independent of the seed."""
    rng = np.random.default_rng(0)
    cons, vows = list("bcdfghjklmnprstvz"), list("aeiou")
    words: dict[str, None] = {}
    while len(words) < n:
        n_syl = int(rng.integers(1, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(5)]
                    for _ in range(n_syl))
        words.setdefault(w, None)
    return np.array(list(words), dtype=object)


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def topk_recall(got: dict, exact: dict, k: int, tol: float = 1e-9) -> float:
    """Mean over queries of |returned top-k ∩ exact top-k| / min(k, #cands).

    ``exact[q]`` maps every candidate of ``q`` to its exact score; ``got[q]``
    lists the neighbours the pipeline returned. A returned neighbour is a hit
    when its exact score reaches the k-th best exact score (within ``tol``),
    so ties at the k-th place count whichever of them the pipeline kept.
    """
    recalls = []
    for q, scores in exact.items():
        want = min(k, len(scores))
        if want == 0:
            continue
        kth = np.sort(np.fromiter(scores.values(), float))[::-1][want - 1]
        hits = sum(1 for n in got.get(q, [])[:k]
                   if scores.get(n, -np.inf) >= kth - tol * max(1.0, abs(kth)))
        recalls.append(min(hits, want) / want)
    return float(np.mean(recalls)) if recalls else 0.0


def group_lists(pdf: pd.DataFrame, key: str, nbr: str, score: str) -> dict:
    """{key: [neighbours by score desc, id asc]} from a top-K frame."""
    pdf = pdf.sort_values([key, score, nbr], ascending=[True, False, True])
    return {k: list(g[nbr]) for k, g in pdf.groupby(key, sort=False)}


class CheckFailed(AssertionError):
    """An output violated a correctness condition."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ---------------------------------------------------------------------------
# corpus_cms: tokenize -> per-language CMS -> pairwise cosine -> head-token
# context profiles -> top-K CMS cosine; MinHash near-duplicate pairs
# ---------------------------------------------------------------------------

VOCAB_SIZE = 20_000
TOKEN_ZIPF_S = 1.2
LANGS = ["en", "de", "fr", "es", "it"]
LANG_WEIGHTS = [0.55, 0.15, 0.12, 0.10, 0.08]
MEAN_TOKENS = 120
DUP_SHARE = 0.03        # pages that are near-copies of an earlier page
DUP_EDIT_SHARE = 0.05   # tokens replaced in each near-copy
HEAD_TOKENS = 1000
HEAVY_TOKENS = 32
CORPUS_K = 10
CMS_EPS, CMS_DELTA = 0.001, 0.01
MINHASH_THRESHOLD = 0.5
CORPUS_DOCS = 3_000
CORPUS_QUERY_SAMPLE = 250  # head tokens whose top-K is checked exactly
CMS_POINT_SAMPLE = 2_000   # (lang, token) pairs whose estimate is checked

@functools.cache
def vocab() -> np.ndarray:
    return _make_vocab(VOCAB_SIZE)


@dataclass
class Corpus:
    doc_id: np.ndarray     # int64
    lang: np.ndarray       # int index into LANGS
    tokens: list           # per doc, int32 vocabulary ids
    pages: pd.DataFrame    # doc_id, lang, text

    @property
    def n_rows(self) -> int:
        return len(self.doc_id)


def gen_corpus(seed: int, n_docs: int = CORPUS_DOCS) -> Corpus:
    """Pages with the web-page generator's distributions: Zipf(1.2) tokens
    over a 20k vocabulary, Poisson(120) lengths, 5 languages (55% en), plus
    planted near-duplicates for MinHash to find. Text mixes capitalised words
    and punctuation so the tokenizer does real work; every token is still
    exactly one vocabulary word, so exact counts are known."""
    rng = np.random.default_rng([seed, 1])
    voc = vocab()
    p = zipf_probs(VOCAB_SIZE, TOKEN_ZIPF_S)
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    lens = np.maximum(5, rng.poisson(MEAN_TOKENS, size=n_docs))
    flat = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=p).astype(np.int32)
    tokens = np.split(flat, np.cumsum(lens)[:-1])
    for i in np.flatnonzero(rng.random(n_docs) < DUP_SHARE):
        if i == 0:
            continue
        t = tokens[int(rng.integers(0, i))].copy()
        edit = rng.random(len(t)) < DUP_EDIT_SHARE
        t[edit] = rng.choice(VOCAB_SIZE, size=int(edit.sum()), p=p)
        tokens[i] = t
    # three spellings per word: plain, Capitalised, followed by a comma
    spellings = np.concatenate([
        voc, np.array([w.capitalize() for w in voc], dtype=object),
        np.array([w + "," for w in voc], dtype=object)])
    texts = []
    for t in tokens:
        form = rng.choice(3, size=len(t), p=[0.85, 0.10, 0.05])
        texts.append(" ".join(spellings[form * VOCAB_SIZE + t]))
    doc_id = np.arange(n_docs, dtype=np.int64) * 7 + 1000
    pages = pd.DataFrame({"doc_id": doc_id,
                          "lang": np.array(LANGS, dtype=object)[lang],
                          "text": texts})
    return Corpus(doc_id, lang, tokens, pages)


def _tokens(docs):
    """(doc_id, lang, token) rows: the tokenizer applied to every page."""
    from pyspark.sql import functions as F

    from mahout_spark.functions.text import tokens_array

    return docs.select("doc_id", "lang",
                       F.explode(tokens_array(F.col("text"))).alias("token"))


def _token_counts(toks):
    from pyspark.sql import functions as F

    return (toks.groupBy("lang", "token")
            .agg(F.count("*").cast("double").alias("cnt")))


def _lang_sketches(tl):
    """One CMS per language over (lang, token, cnt) rows."""
    from mahout_spark.sketch.agg import cms_spec, sketch_by_key

    return sketch_by_key(tl, ["lang"], cms_spec(eps=CMS_EPS, delta=CMS_DELTA),
                         key_col="token", value_col="cnt", n_salt=4)


def corpus_pipeline(run, paths: dict) -> None:
    from pyspark.sql import functions as F

    from mahout_spark.operators.dedup import minhash_dedup_pairs
    from mahout_spark.sketch.agg import (cms_spec_shape,
                                         sketch_per_group_skewed)
    from mahout_spark.sketch.queries import cms_pairwise, cms_topk_cosine

    docs = run.spark.read.parquet(paths["pages"])
    toks = run.call("functions.text.tokens_array", lambda: _tokens(docs))
    # one explode feeds both the per-language build and the head-token
    # list, pinned as in the library's flagship job (jobs/topk_cosine.py)
    tl = run.pin(_token_counts(toks))
    sk = run.call("sketch.agg.sketch_by_key", lambda: _lang_sketches(tl),
                  collect="lang_sketches")
    run.call("sketch.queries.cms_pairwise",
             lambda: cms_pairwise(sk, "lang", kind="cosine"),
             collect="lang_cosine")
    head_counts = run.pin(tl.groupBy("token").agg(F.sum("cnt").alias("count"))
                          .orderBy(F.desc("count"), "token")
                          .limit(HEAD_TOKENS))
    heavy = (head_counts.orderBy(F.desc("count"), "token")
             .limit(HEAVY_TOKENS).select("token"))
    profiles = run.call(
        "sketch.agg.sketch_per_group_skewed",
        lambda: sketch_per_group_skewed(
            toks.join(F.broadcast(head_counts.select("token")), "token"),
            ["token"], cms_spec_shape(4, 512, seed=2), heavy,
            key_col="doc_id"))
    run.call("sketch.queries.cms_topk_cosine",
             lambda: cms_topk_cosine(profiles, "token", k=CORPUS_K),
             collect="token_topk")
    run.call("operators.dedup.minhash_dedup_pairs",
             lambda: minhash_dedup_pairs(docs, "doc_id", "text", num_perm=16,
                                         bands=4,
                                         threshold=MINHASH_THRESHOLD),
             collect="dup_pairs")


class CorpusReference:
    """Exact token counts and head-token cosines for one generated corpus."""

    def __init__(self, corpus: Corpus, seed: int):
        voc = vocab()
        n_docs = corpus.n_rows
        lens = np.array([len(t) for t in corpus.tokens])
        flat = np.concatenate(corpus.tokens)
        doc_of = np.repeat(np.arange(n_docs), lens)
        lang_of = np.repeat(corpus.lang, lens)
        # exact (lang, token) counts and per-language totals
        self.lang_tok = np.bincount(lang_of * VOCAB_SIZE + flat,
                                    minlength=len(LANGS) * VOCAB_SIZE
                                    ).reshape(len(LANGS), VOCAB_SIZE)
        totals = self.lang_tok.sum(axis=0)
        # head tokens exactly as the pipeline picks them: count desc, word asc
        order = sorted(range(VOCAB_SIZE), key=lambda t: (-totals[t], voc[t]))
        head = np.array(order[:HEAD_TOKENS])
        self.head_words = voc[head]
        col = np.full(VOCAB_SIZE, -1)
        col[head] = np.arange(len(head))
        keep = col[flat] >= 0
        prof = np.zeros((len(head), n_docs))
        np.add.at(prof, (col[flat[keep]], doc_of[keep]), 1.0)
        rng = np.random.default_rng([seed, 2])
        q = rng.choice(len(head), size=min(CORPUS_QUERY_SAMPLE, len(head)),
                       replace=False)
        norms = np.linalg.norm(prof, axis=1)
        cos = (prof[q] @ prof.T) / np.outer(norms[q], norms)
        self.exact_topk = {}
        for qi, row in zip(q, cos):
            row[qi] = -np.inf
            self.exact_topk[voc[head[qi]]] = {
                voc[head[j]]: float(row[j]) for j in range(len(head))
                if j != qi}
        # (lang, token) sample for the CMS error-bound check
        li = rng.integers(0, len(LANGS), size=CMS_POINT_SAMPLE)
        ti = rng.choice(VOCAB_SIZE, size=CMS_POINT_SAMPLE,
                        p=zipf_probs(VOCAB_SIZE, 0.6))
        self.point_lang = np.array(LANGS, dtype=object)[li]
        self.point_word = voc[ti]
        self.point_exact = self.lang_tok[li, ti].astype(np.float64)
        self.point_total = self.lang_tok.sum(axis=1)[li].astype(np.float64)
        self.point_key = None
        self.doc_ids = set(corpus.doc_id.tolist())

    def hash_points(self, spark) -> None:
        """The sketch key of every sampled word: Spark's xxhash64 of the
        token, as ``sketch_by_key`` hashes it."""
        from pyspark.sql import functions as F

        words = pd.DataFrame({"token": list(dict.fromkeys(self.point_word))})
        keys = dict(spark.createDataFrame(words)
                    .select("token", F.xxhash64("token").alias("k"))
                    .toPandas().itertuples(index=False, name=None))
        self.point_key = np.array([keys[w] for w in self.point_word],
                                  dtype=np.int64)

    def check(self, out: dict) -> float:
        """Checks one iteration's outputs; returns head-token recall@K."""
        pw = out["lang_cosine"]
        require(len(pw) == len(LANGS) * (len(LANGS) - 1) // 2,
                f"cms_pairwise returned {len(pw)} language pairs")
        require(bool(((pw["cms_cosine"] > 0) & (pw["cms_cosine"] <= 1 + 1e-9)
                      ).all()), "cms_pairwise cosine outside (0, 1]")
        tk = out["token_topk"]
        require(tk["item"].nunique() == HEAD_TOKENS,
                f"top-K covers {tk['item'].nunique()} head tokens")
        require(int(tk.groupby("item").size().max()) <= CORPUS_K,
                "more than K neighbours for a token")
        require(set(tk["item"]) == set(self.head_words),
                "top-K items differ from the exact head tokens")
        dp = out["dup_pairs"]
        require(bool((dp["id_a"] < dp["id_b"]).all()), "dup pair not ordered")
        require(bool((dp["est_jaccard"] >= MINHASH_THRESHOLD).all()),
                "dup pair below threshold")
        require(set(dp["id_a"]).union(dp["id_b"]) <= self.doc_ids,
                "dup pair with unknown doc id")
        self.check_sketches(out["lang_sketches"])
        return topk_recall(group_lists(tk, "item", "neighbor", "cms_cosine"),
                           self.exact_topk, CORPUS_K)

    def check_sketches(self, sketches: pd.DataFrame) -> None:
        """a <= â <= a + eps*N for the sampled (lang, token) pairs, with at
        most a delta share breaking the upper bound."""
        from mahout_spark.core.cms import CountMinSketch

        blobs = {lang: CountMinSketch.deserialize(bytes(blob))
                 for lang, blob in zip(sketches["lang"], sketches["sketch"])}
        require(set(blobs) == set(LANGS),
                f"sketch_by_key returned languages {sorted(blobs)}")
        est = np.empty(len(self.point_word))
        for lang in LANGS:
            m = self.point_lang == lang
            est[m] = blobs[lang].point_batch(self.point_key[m])
        require(bool((est >= self.point_exact).all()),
                "CMS estimate below the exact count")
        over = est > self.point_exact + CMS_EPS * self.point_total
        require(over.mean() <= CMS_DELTA,
                f"{over.mean():.4f} of CMS estimates exceed a + eps*N")


# ---------------------------------------------------------------------------
# ratings_zipf: LLR item similarity, cosine row similarity and the CMS
# user-based recommender over one rating matrix with Zipf item popularity
# ---------------------------------------------------------------------------

RATING_USERS = 1_000
RATING_ITEMS = 2_000
RATING_ZIPF_S = 1.0
MAX_PER_USER = 80
PAIRS_K = 10
NEIGHBOURS = 20
TOP_N = 10
EXACT_SAMPLE = 200   # users / items whose top-K is recomputed exactly


@dataclass
class Ratings:
    frame: pd.DataFrame  # user_id, item_id, pref (1..5)

    @property
    def n_rows(self) -> int:
        return len(self.frame)


def gen_ratings(seed: int, n_users: int = RATING_USERS,
                n_items: int = RATING_ITEMS) -> Ratings:
    """Distinct (user, item) ratings. Ratings per user are lognormal (median
    ~13, at most ``MAX_PER_USER`` draws). Items are drawn with Zipf
    popularity, ids shuffled so popularity is not id order; the head items
    are rated by more users than the 500-interaction downsampling cap. A
    rating is a user bias plus an item quality plus noise, rounded into
    1..5."""
    rng = np.random.default_rng([seed, 3])
    per_user = np.clip(np.rint(rng.lognormal(2.6, 0.8, n_users)), 2,
                       MAX_PER_USER).astype(np.int64)
    users = np.repeat(np.arange(n_users, dtype=np.int64), per_user)
    item_of_rank = rng.permutation(n_items).astype(np.int64)
    items = item_of_rank[rng.choice(n_items, size=len(users),
                                    p=zipf_probs(n_items, RATING_ZIPF_S))]
    cell = np.unique(users * n_items + items)
    users, items = cell // n_items, cell % n_items
    quality = rng.normal(0.0, 0.8, n_items)
    bias = rng.normal(0.0, 0.6, n_users)
    pref = np.clip(np.rint(3.2 + quality[items] + bias[users]
                           + rng.normal(0.0, 0.7, len(users))), 1, 5)
    return Ratings(pd.DataFrame({"user_id": users * 3 + 11,
                                 "item_id": items + 5,
                                 "pref": pref.astype(np.float64)}))


def ratings_pipeline(run, paths: dict) -> None:
    from pyspark.sql import functions as F

    from mahout_spark.operators.cooccurrence import llr_item_similarity
    from mahout_spark.operators.recommender import (cms_user_similarity,
                                                    recommend_cms,
                                                    user_cms_profiles)
    from mahout_spark.operators.rowsim import row_similarity

    prefs = run.spark.read.parquet(paths["ratings"])
    run.call("operators.cooccurrence.llr_item_similarity",
             lambda: llr_item_similarity(prefs, row="user_id", col="item_id",
                                         k=PAIRS_K, downsample=True),
             collect="llr")
    run.call("operators.rowsim.row_similarity",
             lambda: row_similarity(prefs, measure="cosine", row="user_id",
                                    col="item_id", val="pref", k=PAIRS_K),
             collect="rowsim")
    profiles = run.call("operators.recommender.user_cms_profiles",
                        lambda: user_cms_profiles(prefs))
    sims = run.call("operators.recommender.cms_user_similarity",
                    lambda: cms_user_similarity(profiles, top_n=NEIGHBOURS),
                    collect="sims")
    # Only neighbours with positive similarity: recommend_cms divides by the
    # summed similarity, and an item offered only by similarity-0 neighbours
    # raises DIVIDE_BY_ZERO under ANSI mode (see README.md, "Known defect").
    run.call("operators.recommender.recommend_cms",
             lambda: recommend_cms(prefs, profiles,
                                   sims.filter(F.col("sim") > 0),
                                   top_n=TOP_N, cap_range=(1.0, 5.0)),
             collect="recs")


def _sparse_dots(queries: np.ndarray, rows: np.ndarray, cols: np.ndarray,
                 vals: np.ndarray, n_rows: int) -> list[np.ndarray]:
    """For each query row q: dot(q, r) for every row r (dense over rows)."""
    by_col = np.argsort(cols, kind="stable")
    col_start = np.searchsorted(cols[by_col], np.arange(cols.max() + 2))
    by_row = np.argsort(rows, kind="stable")
    row_start = np.searchsorted(rows[by_row], np.arange(n_rows + 1))
    out = []
    for q in queries:
        mine = by_row[row_start[q]:row_start[q + 1]]
        spans = [by_col[col_start[c]:col_start[c + 1]] for c in cols[mine]]
        idx = np.concatenate(spans)
        weight = np.repeat(vals[mine], [len(s) for s in spans])
        out.append(np.bincount(rows[idx], weights=weight * vals[idx],
                               minlength=n_rows))
    return out


def _exact_scores(rows, cols, vals, n_rows, queries, score_fn) -> dict:
    """{query: {candidate: exact score}} over the rows sharing a column."""
    res = {}
    for q, dots in zip(queries, _sparse_dots(queries, rows, cols, vals,
                                             n_rows)):
        cand = np.flatnonzero(dots)
        cand = cand[cand != q]
        res[int(q)] = dict(zip(cand.tolist(),
                               score_fn(q, cand, dots[cand]).tolist()))
    return res


def _relabel(scores: dict, keys) -> dict:
    return {int(keys[q]): {int(keys[c]): s for c, s in m.items()}
            for q, m in scores.items()}


def _llr(k11, k12, k21, k22):
    """Log-likelihood ratio of a 2x2 contingency table (Dunning), >= 0."""
    def xlogx(x):
        x = np.asarray(x, dtype=np.float64)
        return np.where(x > 0, x * np.log(np.where(x > 0, x, 1.0)), 0.0)

    def h(*ks):
        return xlogx(sum(ks)) - sum(xlogx(k) for k in ks)

    return np.maximum(0.0, 2.0 * (h(k11 + k12, k21 + k22)
                                  + h(k11 + k21, k12 + k22)
                                  - h(k11, k12, k21, k22)))


class RatingsReference:
    """Exact cosine user neighbours, exact LLR item neighbours and the seen
    sets for one generated rating matrix."""

    def __init__(self, ratings: Ratings, seed: int):
        f = ratings.frame
        self.rng = np.random.default_rng([seed, 4])
        self.seen = set(zip(f["user_id"].tolist(), f["item_id"].tolist()))
        self.users = set(f["user_id"].tolist())
        u_codes, u_keys = pd.factorize(f["user_id"], sort=True)
        i_codes, _ = pd.factorize(f["item_id"], sort=True)
        vals = f["pref"].to_numpy()
        n = len(u_keys)
        sq = np.bincount(u_codes, weights=vals * vals, minlength=n)
        q = self.rng.choice(n, size=min(EXACT_SAMPLE, n), replace=False)
        # the same expression row_similarity evaluates: exact on integers
        self.user_cosine = _relabel(_exact_scores(
            u_codes, i_codes, vals, n, q,
            lambda a, c, d: d / (np.sqrt(sq[a]) * np.sqrt(sq[c]))), u_keys)
        self.llr_exact = None

    def set_sample(self, sampled: pd.DataFrame) -> None:
        """Exact LLR top-K over the output of sample_down_and_binarize."""
        i_codes, i_keys = pd.factorize(sampled["item_id"], sort=True)
        u_codes, u_keys = pd.factorize(sampled["user_id"], sort=True)
        n_users, n_items = len(u_keys), len(i_keys)
        counts = np.bincount(i_codes, minlength=n_items).astype(np.float64)
        q = self.rng.choice(n_items, size=min(EXACT_SAMPLE, n_items),
                            replace=False)
        # items are the rows of the cooccurrence: score the transpose
        self.llr_exact = _relabel(_exact_scores(
            i_codes, u_codes, np.ones(len(i_codes)), n_items, q,
            lambda a, c, nab: _llr(nab, counts[a] - nab, counts[c] - nab,
                                   n_users - counts[a] - counts[c] + nab)),
            i_keys)

    def check(self, out: dict) -> float:
        """Checks one iteration's outputs; returns the CMS neighbours'
        recall@NEIGHBOURS against exact cosine (the exact pipelines must
        reach recall 1.0 or the iteration fails)."""
        rs, llr, recs, sims = (out["rowsim"], out["llr"], out["recs"],
                               out["sims"])
        require(bool((rs["row_a"] != rs["row_b"]).all()),
                "row_similarity returned a self pair")
        for frame, key in ((rs, "row_a"), (llr, "item_a")):
            require(int(frame.groupby(key).size().max()) <= PAIRS_K,
                    f"more than {PAIRS_K} neighbours per {key}")
        r1 = topk_recall(group_lists(rs, "row_a", "row_b", "sim"),
                         self.user_cosine, PAIRS_K)
        r2 = topk_recall(group_lists(llr, "item_a", "item_b", "llr"),
                         self.llr_exact, PAIRS_K)
        require(r1 == 1.0, f"row_similarity recall@{PAIRS_K} = {r1:.4f}")
        require(r2 == 1.0, f"llr_item_similarity recall@{PAIRS_K} = {r2:.4f}")
        require(len(recs) > 0, "recommend_cms returned nothing")
        require(bool(recs["score"].between(1.0, 5.0).all()),
                "recommendation score outside [1, 5]")
        pairs = list(zip(recs["user_id"].tolist(), recs["item_id"].tolist()))
        require(not any(p in self.seen for p in pairs),
                "recommended an item the user has already rated")
        require(len(set(pairs)) == len(pairs), "duplicate recommendation")
        require(set(recs["user_id"]) <= self.users, "unknown user")
        require(int(recs.groupby("user_id").size().max()) <= TOP_N,
                f"more than {TOP_N} recommendations for a user")
        require(bool((sims["user_a"] != sims["user_b"]).all()),
                "cms_user_similarity returned a self pair")
        require(int(sims.groupby("user_a").size().max()) <= NEIGHBOURS,
                f"more than {NEIGHBOURS} neighbours for a user")
        return topk_recall(group_lists(sims, "user_a", "user_b", "sim"),
                           self.user_cosine, NEIGHBOURS)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


class Workload:
    """One workload bound to one seed: its inputs, reference and pipeline."""

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.data = GENERATORS[name](seed)
        self.n_rows = self.data.n_rows
        self.reference = None

    def write_inputs(self, directory: str, share: float = 1.0) -> dict:
        """Writes the inputs (or their first ``share``, for warm-up) as
        parquet; returns the paths the pipeline reads."""
        os.makedirs(directory, exist_ok=True)
        key = INPUT_NAME[self.name]
        frame = (self.data.pages if key == "pages" else self.data.frame)
        frame = frame.iloc[:max(1, int(len(frame) * share))]
        return {key: write_parquet(frame, os.path.join(directory,
                                                       key + ".parquet"))}

    def pipeline(self, run, paths: dict) -> None:
        PIPELINES[self.name](run, paths)

    def prepare_reference(self, spark, paths: dict) -> None:
        """Exact answers the iterations' outputs are checked against."""
        if self.name == "corpus_cms":
            self.reference = CorpusReference(self.data, self.seed)
            self.reference.hash_points(spark)
            return
        from mahout_spark.operators.cooccurrence import \
            sample_down_and_binarize

        self.reference = RatingsReference(self.data, self.seed)
        prefs = spark.read.parquet(paths["ratings"])
        self.reference.set_sample(sample_down_and_binarize(
            prefs, row="user_id", col="item_id").toPandas())

    def check(self, outputs: dict) -> float:
        return self.reference.check(outputs)


GENERATORS = {"corpus_cms": gen_corpus, "ratings_zipf": gen_ratings}
PIPELINES = {"corpus_cms": corpus_pipeline, "ratings_zipf": ratings_pipeline}
INPUT_NAME = {"corpus_cms": "pages", "ratings_zipf": "ratings"}
WORKLOADS = tuple(GENERATORS)
