"""Seeded, vectorized input generators.

Every generator takes its seed as an argument and writes parquet files
whose bytes depend on the seed and the size only, so the same seed
gives identical files. The program under test only ever sees these
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Words are consonant-only: the engine's tokenizer splits on digits
# (constants.DELIM_REGEX), so a vocabulary like "w123" would collapse
# to one token, and every stopword holds a vowel or a "y", so no
# generated word is ever filtered as a stopword.
_CONSONANTS = np.frombuffer(b"bcdfghjklmnpqrstvwxz", dtype=np.uint8)
CATEGORIES = ("books", "games", "music", "tools", "video")


def vocabulary(size: int, rng: np.random.Generator) -> pa.Array:
    """`size` distinct lower-case words of 4-5 consonants, in a seeded
    random order (so word rank and word spelling are unrelated)."""
    n4 = len(_CONSONANTS) ** 4
    idx = rng.choice(n4 * 2, size=size, replace=False)
    width = np.where(idx < n4, 4, 5)
    digits = (idx[:, None] // len(_CONSONANTS) ** np.arange(5)) % len(_CONSONANTS)
    letters = _CONSONANTS[digits]
    chars = letters.reshape(-1)[(np.arange(5)[None, :] < width[:, None]).reshape(-1)]
    offsets = np.concatenate([[0], np.cumsum(width)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        size, pa.py_buffer(offsets.tobytes()), pa.py_buffer(chars.tobytes())
    )


def _zipf_ranks(rng: np.random.Generator, vocab: int, n: int, s: float = 1.07) -> np.ndarray:
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def _join_words(words: pa.Array, ids: np.ndarray, lengths: np.ndarray) -> pa.Array:
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    tokens = pc.take(words, pa.array(ids))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")


def _write_parts(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))


def _documents(doc_ids: np.ndarray, text: pa.Array, cats: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": text,
            "lang": pc.take(pa.array(CATEGORIES), pa.array(cats)),
            "source": pa.array(np.full(len(doc_ids), "gen")),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def review_corpus(
    root: str,
    seed: int,
    n_docs: int,
    vocab: int,
    n_files: int,
    min_tokens: int = 20,
    max_tokens: int = 120,
    skew: float = 0.3,
) -> int:
    """Zipfian review corpus in the `documents` schema at
    `root/documents.parquet/`. Each category draws a `skew` share of
    its tokens from its own permutation of the Zipf ranks, so every
    category has discriminative terms. Returns the row count."""
    rng = np.random.default_rng([seed, 1])
    words = vocabulary(vocab, rng)
    cats = rng.integers(0, len(CATEGORIES), n_docs)
    lengths = rng.integers(min_tokens, max_tokens + 1, n_docs)
    n_tok = int(lengths.sum())
    ranks = _zipf_ranks(rng, vocab, n_tok)
    perms = np.stack([rng.permutation(vocab) for _ in CATEGORIES])
    tok_cat = np.repeat(cats, lengths)
    own = rng.random(n_tok) < skew
    ids = np.where(own, perms[tok_cat, ranks], ranks)
    text = _join_words(words, ids, lengths)
    _write_parts(_documents(np.arange(n_docs), text, cats), f"{root}/documents.parquet", n_files)
    return n_docs


def power_law_graph(
    root: str,
    seed: int,
    n_nodes: int,
    mean_degree: float,
    n_chains: int,
    chain_len: int,
    n_files: int,
) -> int:
    """Directed edge list (src, dst) at `root/edges.parquet/`: Pareto
    out-degrees with Zipf-popular destinations (duplicates and self
    loops included, as in raw link data), plus `n_chains` planted
    chains of `chain_len` fresh nodes so that the number of
    fixed-point rounds depends on the graph's diameter. Returns the
    edge count."""
    rng = np.random.default_rng([seed, 2])
    deg = np.minimum(rng.pareto(1.5, n_nodes) * mean_degree / 2.0, n_nodes // 10).astype(np.int64)
    src = np.repeat(np.arange(n_nodes, dtype=np.int64), deg)
    dst = rng.permutation(n_nodes)[_zipf_ranks(rng, n_nodes, len(src), 0.9)]
    chain = n_nodes + np.arange(n_chains * chain_len, dtype=np.int64).reshape(n_chains, chain_len)
    # each chain hangs off a random node of the main graph
    heads = rng.integers(0, n_nodes, n_chains)
    c_src = np.concatenate([heads, chain[:, :-1].reshape(-1)])
    c_dst = np.concatenate([chain[:, 0], chain[:, 1:].reshape(-1)])
    order = rng.permutation(len(src) + len(c_src))
    edges = pa.table(
        {
            "src": pa.array(np.concatenate([src, c_src])[order], pa.int64()),
            "dst": pa.array(np.concatenate([dst, c_dst])[order], pa.int64()),
        }
    )
    _write_parts(edges, f"{root}/edges.parquet", n_files)
    return edges.num_rows


_TRACKING = ("utm_source=news", "utm_medium=mail", "fbclid=zq", "gclid=kx")


def curation_corpus(
    root: str,
    seed: int,
    n_docs: int,
    vocab: int,
    cluster_frac: float,
    n_files: int,
    doc_tokens: int = 60,
    copies: int = 3,
    edits: int = 3,
) -> tuple[int, set[tuple[str, int, int]]]:
    """Corpus with planted near-duplicate clusters at
    `root/documents.parquet/`, plus `root/pages.parquet/` (doc_id, url)
    where consecutive docs share a page under messy URL variants
    (scheme/host case, www., :443, trailing slash, fragment, tracking
    parameters, query order).

    About a `cluster_frac` share of the docs are copies, `copies` per
    cluster, of the cluster's smallest doc_id with `edits` random words
    replaced each. Every cluster is then a star around its smallest id,
    so the dedup's label propagation takes the same number of rounds
    for every seed. Words are drawn uniformly, so unrelated docs share
    no 3-word shingle in practice.

    Returns the row count and the URL groups the engine must find:
    {(canonical url, group size, smallest doc_id)} over pages shared by
    two or more docs, computed from the page ids, never from a URL
    canonicalizer."""
    rng = np.random.default_rng([seed, 3])
    words = vocabulary(vocab, rng)
    ids = rng.integers(0, vocab, (n_docs, doc_tokens))
    n_clusters = int(n_docs * cluster_frac) // copies
    members = np.sort(
        rng.choice(n_docs, n_clusters * (copies + 1), replace=False).reshape(n_clusters, copies + 1),
        axis=1,
    )
    dup = members[:, 1:].reshape(-1)
    ids[dup] = np.repeat(ids[members[:, 0]], copies, axis=0)
    cols = rng.integers(0, doc_tokens, (len(dup), edits))
    ids[dup[:, None], cols] = rng.integers(0, vocab, (len(dup), edits))
    lengths = np.full(n_docs, doc_tokens)
    text = _join_words(words, ids.reshape(-1), lengths)
    cats = rng.integers(0, len(CATEGORIES), n_docs)
    _write_parts(_documents(np.arange(n_docs), text, cats), f"{root}/documents.parquet", n_files)

    # pages: group sizes 1-4, consecutive doc ids
    sizes = rng.integers(1, 5, n_docs)
    sizes = sizes[: np.searchsorted(np.cumsum(sizes), n_docs) + 1]
    sizes[-1] -= int(sizes.sum()) - n_docs
    page = np.repeat(np.arange(len(sizes)), sizes)
    urls, expected = _messy_urls(rng, page, sizes)
    pages = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()), "url": pa.array(urls)})
    _write_parts(pages, f"{root}/pages.parquet", n_files)
    return n_docs, expected


def _messy_urls(rng: np.random.Generator, page: np.ndarray, sizes: np.ndarray):
    n = len(page)
    host = [f"site{chr(97 + p % 26)}{chr(97 + p // 26 % 26)}.example.org" for p in range(len(sizes))]
    canon = [
        f"https://{host[p]}/Docs/p{p}?id={p}&lang=en" if p % 3 else f"https://{host[p]}/Docs/p{p}"
        for p in range(len(sizes))
    ]
    flags = rng.random((n, 7)) < 0.5
    shuffles = rng.random(n) < 0.5
    trackers = rng.integers(0, len(_TRACKING), n)
    urls = []
    for i in range(n):
        p = int(page[i])
        f = flags[i]
        h = host[p].upper() if f[0] else host[p]
        if f[1]:
            h = "www." + h
        if f[2]:
            h += ":443"
        url = ("HTTPS://" if f[3] else "https://") + h + f"/Docs/p{p}" + ("/" if f[4] else "")
        params = [f"id={p}", "lang=en"] if p % 3 else []
        if f[5]:
            params.append(_TRACKING[trackers[i]])
        if shuffles[i]:
            params.reverse()
        if params:
            url += "?" + "&".join(params)
        if f[6]:
            url += "#top"
        urls.append(url)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    expected = {
        (canon[p], int(sizes[p]), int(starts[p])) for p in range(len(sizes)) if sizes[p] >= 2
    }
    return urls, expected
