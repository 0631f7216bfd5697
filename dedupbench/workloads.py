"""Seeded input generators for the dedup benchmark (pure pandas/numpy).

Every generator is a pure function of its seed and size: the same seed
gives byte-identical pages and the same planted truth pairs.  The class
recipes are the fixture's (``umi_collapse_rs_spark.fixtures``): a base
document is a word salad over the fixture vocabulary, a near duplicate is
``_mutate`` (1-3 token edits), an exact duplicate is a byte copy under a
new url, a long-verbatim-overlap pair shares a 512-token block.  Only the
proportions, document lengths and url shapes differ per workload.

The program under test sees only the parquet written from these frames;
truth pairs stay with the benchmark for the recall check.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from umi_collapse_rs_spark.fixtures import LANGS, VOCAB, _base_text, _mutate

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

# bulk_longdoc class table per 100 base documents: (class, count).
# Expected pages per 100 bases: 90 unique + 3 x 2.5 exact + 4 x 2.5 near
# + 3 x 2 overlap = 113.5, so ~79% of pages are unique.
_LONGDOC_CLASSES = [("unique", 90), ("exact", 3), ("near", 4), ("overlap", 3)]

# incremental batch mix, as shares of batch pages; the rest are new
# pages: unique singles plus in-batch exact pairs and near triples of
# fixed size, so every seed gives a batch the same number of clusters
BATCH_EXACT_SHARE = 0.2   # byte-identical re-crawls of corpus pages
BATCH_NEAR_SHARE = 0.2    # 1-3 token edits of unique corpus pages
BATCH_NEW_GROUPED_SHARE = 0.3  # of the new pages: in exact pairs / near triples


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _class_of(base_id: int, table: list[tuple[str, int]]) -> str:
    slot = base_id % sum(n for _, n in table)
    for cls, n in table:
        if slot < n:
            return cls
        slot -= n
    raise AssertionError("unreachable")


def _longdoc_url(i: int, rng: np.random.Generator) -> str:
    # ~140 B: host + dated section path + a long slug, like a news crawl
    slug = "-".join(_words(rng, 9))
    return (
        f"https://www.site{(i * 7919) % 211}.example-news-portal.com/section-"
        f"{i % 13:02d}/2025/{1 + i % 12:02d}/{slug}-{i:07d}.html"
    )


def _pairs_within(urls: list[str], kind: str) -> list[tuple[str, str, str]]:
    out = []
    for i, a in enumerate(urls):
        for b in urls[i + 1 :]:
            u, v = sorted((a, b))
            out.append((u, v, kind))
    return out


def _pages_frame(urls: list[str], texts: list[str], ts0: int = 0) -> pd.DataFrame:
    n = len(urls)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": [_EPOCH + timedelta(seconds=17 * (ts0 + i)) for i in range(n)],
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": [LANGS[(ts0 + i) % 4] for i in range(n)],
        }
    )


def longdoc_pages(n_pages: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Real-crawl shape: ~79% unique pages of 200-1,200 tokens (mean ~700),
    ~140-byte urls, with exact copies, near balls and 512-token verbatim
    overlaps planted.  Returns (pages, truth_pairs)."""
    texts: list[str] = []
    groups: list[tuple[list[int], str]] = []
    base_id = 0
    while len(texts) < n_pages:
        rng = np.random.default_rng([seed, base_id])
        cls = _class_of(base_id, _LONGDOC_CLASSES)
        start = len(texts)
        if cls == "unique":
            texts.append(" ".join(_words(rng, int(rng.integers(200, 1201)))))
        elif cls == "exact":
            text = " ".join(_words(rng, int(rng.integers(200, 1201))))
            texts.extend(text for _ in range(int(rng.integers(2, 4))))
        elif cls == "near":
            base = _words(rng, int(rng.integers(200, 1201)))
            texts.append(" ".join(base))
            texts.extend(" ".join(_mutate(base, rng)) for _ in range(int(rng.integers(1, 3))))
        else:  # overlap: a 512-token block inside otherwise different docs
            block = _words(rng, 512)
            texts.append(" ".join(_words(rng, 200) + block + _words(rng, 200)))
            texts.append(" ".join(_words(rng, 250) + block + _words(rng, 150)))
        if cls != "unique":
            groups.append((list(range(start, len(texts))), cls))
        base_id += 1
    texts = texts[:n_pages]
    url_rng = np.random.default_rng([seed, 1 << 30])
    urls = [_longdoc_url(i, url_rng) for i in range(n_pages)]
    truth = []
    for idxs, kind in groups:
        truth += _pairs_within([urls[i] for i in idxs if i < n_pages], kind)
    return _pages_frame(urls, texts), pd.DataFrame(truth, columns=["src_url", "dst_url", "kind"])


def _unique_rows(corpus: pd.DataFrame, truth: pd.DataFrame) -> np.ndarray:
    """Row indices of corpus pages in no planted group and not edge rows."""
    grouped = set(truth.src_url) | set(truth.dst_url)
    ok = [
        i
        for i, (u, t) in enumerate(zip(corpus.url, corpus.text))
        if u not in grouped and len(t.split()) >= 40
    ]
    return np.asarray(ok)


def incremental_batch(
    corpus: pd.DataFrame,
    corpus_truth: pd.DataFrame,
    batch_index: int,
    n_pages: int,
    seed: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One micro-batch for the chain: exact re-crawls and near edits of
    corpus pages, plus new pages (in-batch exact pairs and near triples,
    then unique singles).  Truth pairs link each re-crawl ('recrawl') or
    edit ('edit') to its corpus source, plus the new pages' groups."""
    rng = np.random.default_rng([seed, 2, batch_index])
    n_exact = int(n_pages * BATCH_EXACT_SHARE)
    n_near = int(n_pages * BATCH_NEAR_SHARE)
    n_new = n_pages - n_exact - n_near

    # exact sources: any corpus page with real text (edge rows excluded)
    has_text = np.asarray([i for i, t in enumerate(corpus.text) if len(t.split()) >= 40])
    exact_src = rng.choice(has_text, n_exact, replace=False)
    near_src = rng.choice(_unique_rows(corpus, corpus_truth), n_near, replace=False)

    texts = [corpus.text.iat[i] for i in exact_src]
    texts += [" ".join(_mutate(corpus.text.iat[i].split(" "), rng)) for i in near_src]
    prefix = f"https://site{batch_index % 97}.example/b{batch_index:02d}/p"
    urls = [f"{prefix}{i:07d}" for i in range(n_pages)]
    truth = [
        (*sorted((urls[j], corpus.url.iat[src])), kind)
        for j, (src, kind) in enumerate(
            [(s, "recrawl") for s in exact_src] + [(s, "edit") for s in near_src]
        )
    ]
    # new pages (fixture recipes): exact pairs, near triples, then singles
    n_grouped = int(n_new * BATCH_NEW_GROUPED_SHARE)
    n_pairs = n_grouped // 2 // 2
    n_triples = (n_grouped - 2 * n_pairs) // 3
    for g in range(n_pairs + n_triples):
        start = len(texts)
        base = _base_text(rng)
        texts.append(" ".join(base))
        if g < n_pairs:
            texts.append(texts[-1])
        else:
            texts.extend(" ".join(_mutate(base, rng)) for _ in range(2))
        kind = "exact" if g < n_pairs else "near"
        truth += _pairs_within(urls[start : len(texts)], kind)
    while len(texts) < n_pages:
        texts.append(" ".join(_base_text(rng)))
    pages = _pages_frame(urls, texts, ts0=10**6 * (batch_index + 1))
    return pages, pd.DataFrame(truth, columns=["src_url", "dst_url", "kind"])


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    # small row groups so the scan splits across every core (parquet
    # splits at row-group granularity), as bench.py does
    pdf.to_parquet(
        path,
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=1024,
    )
