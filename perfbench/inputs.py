"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed: the corpora,
the live micro-batches and the request streams.  The program under test
only ever sees what these functions produce.  Corpora are written to
parquet with microsecond timestamps (pandas holds nanoseconds, which
Spark's parquet reader refuses).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from websearchengine_spark.functions.extract import extract_text_and_title
from websearchengine_spark.sources.corpus import (
    build_vocab,
    gen_pageview_log_pdf,
    gen_pages_pdf,
)

# Query length (words) -> share of the query pool: the 1-, 2- and
# 3-word shares of the AltaVista query log (Silverstein, Henzinger,
# Marais, Moricz, "Analysis of a Very Large Web Search Engine Query
# Log", SIGIR Forum 33(1), 1999: 25.8 %, 26.0 % and 15.0 % of all
# queries), renormalised over the 1-3 words the workloads send.
LENGTH_MIX = ((1, 25.8 / 66.8), (2, 26.0 / 66.8), (3, 15.0 / 66.8))
# Which Zipf ranks the queries use is fixed, not seeded: seeds then give
# different corpora and words at those ranks but statistically alike
# posting lists, so run-to-run spread is not dominated by the query mix.
RANK_SEED = 20260517


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=False,
    )


def corpus(n_docs: int, seed: int) -> pd.DataFrame:
    return gen_pages_pdf(np.arange(n_docs), n_docs, seed=seed)


def pageview_log(n_docs: int, seed: int) -> pd.DataFrame:
    return gen_pageview_log_pdf(n_docs, seed=seed)


def _query_words(seed: int) -> tuple[list[str], np.ndarray]:
    """The plain query words of the vocabulary (no punctuation, case or
    length the analyzer would change) and their draw weights: 1/rank,
    the Zipf weights the corpus generator gives its words, so query
    words are as head-heavy as the text they search."""
    vocab = build_vocab(seed)
    keep = [
        i for i, w in enumerate(vocab)
        if w.isalpha() and w.islower() and 2 <= len(w) <= 20
    ]
    p = 1.0 / (np.asarray(keep) + 1.0)
    return [vocab[i] for i in keep], p / p.sum()


def _counts(n: int, mix) -> list:
    """Exact per-class counts for ``n`` items under ``mix`` (largest
    remainder), so every seed gets the same proportions."""
    raw = [(c, share * n) for c, share in mix]
    out = [(c, int(x)) for c, x in raw]
    rest = n - sum(k for _, k in out)
    order = sorted(range(len(raw)), key=lambda i: -(raw[i][1] - int(raw[i][1])))
    for i in order[:rest]:
        out[i] = (out[i][0], out[i][1] + 1)
    return out


def query_pool(
    seed: int, size: int, salt: int, shuffle: bool = True, exclude=()
) -> list[str]:
    """``size`` distinct conjunctive queries of 1-3 words.  Query
    lengths come in exact LENGTH_MIX proportions; words are drawn with
    the corpus's Zipf weights, so the pool spans head, middle and tail
    ranks.  The ranks are fixed (RANK_SEED); ``salt`` draws an
    independent pool, ``shuffle`` puts it in a seeded order, and no
    query in ``exclude`` is drawn."""
    rng = np.random.default_rng([RANK_SEED, salt])
    words, p = _query_words(seed)
    pool: list[str] = []
    for n_words, count in _counts(size, LENGTH_MIX):
        for _ in range(count):
            while True:
                ws = [words[int(i)] for i in rng.choice(len(words), n_words, p=p)]
                q = " ".join(ws)
                if len(set(ws)) == n_words and q not in pool and q not in exclude:
                    break
            pool.append(q)
    if shuffle:
        np.random.default_rng([seed, salt]).shuffle(pool)
    return pool


def misspelled_pool(seed: int, size: int, salt: int) -> list[str]:
    """Spell-assist queries: a query pool whose first word (at least 4
    letters) gets one letter dropped or substituted (the ranks are
    fixed, the typos seeded)."""
    typo_rng = np.random.default_rng([seed, salt])
    out = []
    for intended in query_pool(seed, 4 * size, salt, shuffle=False):
        w, rest = (intended.split(" ", 1) + [""])[:2]
        if len(w) < 4:
            continue
        i = int(typo_rng.integers(1, len(w)))
        if typo_rng.random() < 0.5:
            typo = w[:i] + w[i + 1 :]
        else:
            typo = w[:i] + "aeiouy"[int(typo_rng.integers(6))] + w[i + 1 :]
        if typo == w:
            continue
        out.append(f"{typo} {rest}".strip())
        if len(out) == size:
            return out
    raise ValueError(f"seed {seed}: fewer than {size} spell queries")


def passes(pattern: str, pools: dict, n_passes: int) -> list[tuple]:
    """(kind, query) requests in ``n_passes`` whole passes.  A pass
    sends every query of every pool once, kinds in ``pattern`` order
    (one letter per request; a kind occurs in it as often as its pool
    is long).  The repeat share is therefore (n_passes - 1) / n_passes
    whatever the program's speed."""
    for kind, pool in pools.items():
        if pattern.count(kind) != len(pool):
            raise ValueError(f"pattern sends {kind} {pattern.count(kind)}x, pool has {len(pool)}")
    out = []
    for _ in range(n_passes):
        nth = dict.fromkeys(pools, 0)
        for kind in pattern:
            out.append((kind, pools[kind][nth[kind]]))
            nth[kind] += 1
    return out


def _letters(n: int) -> str:
    return "".join("abcdefghij"[int(d)] for d in str(n))


def marker_token(seed: int, batch: int) -> str:
    """A token no generated page contains (the vocabulary is CV
    syllables; 'qx' never occurs), unique per seed and batch."""
    return f"qx{_letters(seed % 100000)}q{_letters(batch)}"


def live_batches(
    seed: int, n_base: int, n_batches: int, batch_size: int, recrawl_frac: float
) -> list[pd.DataFrame]:
    """Batch 0 is the base corpus (``n_base`` docs); batches 1.. hold
    ``batch_size`` docs each: fresh urls, ``recrawl_frac`` re-crawls of
    earlier urls carrying new content and a later timestamp, and one
    fresh page (the last) carrying the batch's marker token."""
    universe = n_base + n_batches * batch_size
    rng = np.random.default_rng([seed, 4])
    base = gen_pages_pdf(np.arange(n_base), universe, seed=seed)
    out = [base]
    next_ix = n_base
    seen = list(base["url"])
    n_recrawl = int(round(batch_size * recrawl_frac))
    for b in range(1, n_batches + 1):
        ix = np.arange(next_ix, next_ix + batch_size)
        next_ix += batch_size
        pdf = gen_pages_pdf(ix, universe, seed=seed)
        old = rng.choice(len(seen), size=n_recrawl, replace=False)
        fresh = list(pdf["url"][n_recrawl:])
        pdf["url"] = [seen[int(i)] for i in old] + fresh
        seen.extend(fresh)
        last = batch_size - 1  # a fresh url
        html = pdf.at[last, "html"].decode("utf-8").replace(
            "</body>", f"<p>{marker_token(seed, b)}</p></body>"
        )
        pdf.at[last, "html"] = html.encode("utf-8")
        pdf.at[last, "text"] = extract_text_and_title(html)[1]
        out.append(pdf)
    return out


def latest_versions(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """The corpus a from-scratch build should equal after every batch
    is applied with upsert: the last version of each url."""
    allp = pd.concat(batches, ignore_index=True)
    return allp.drop_duplicates("url", keep="last").reset_index(drop=True)

