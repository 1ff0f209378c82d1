"""Property test: the vectorized admission kernel (numpy runs/reduceat
over 128-bit hash groups) equals a naive per-url reference on random
inputs — markers, duplicate proposals, same-page duplicates, bloom
members and all — in dfs mode, and in news mode through the crawl's
one admission helper, which picks the mode's tie key."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from delver_spark.engine.bloom import BloomFilter
from delver_spark.engine.murmur import hash128_batch
from delver_spark.operators.crawl import _admission_keep
from delver_spark.operators.frontier import admission_keep_mask


def _naive(urls, page_pos, f_pos, is_marker, bloom):
    """Direct transcription of the gates over exact url strings."""
    fpos_min = {}
    for u, m, fp in zip(urls, is_marker, f_pos):
        if m:
            fpos_min[u] = min(fpos_min.get(u, 1 << 62), fp)
    member = bloom.contains_batch(list(urls))
    keep = [False] * len(urls)
    best_page = {}
    for i, (u, m, pp) in enumerate(zip(urls, is_marker, page_pos)):
        if m or member[i]:
            continue
        if fpos_min.get(u, 1 << 62) <= pp:
            continue
        best_page[u] = min(best_page.get(u, 1 << 62), pp)
    for i, (u, m, pp) in enumerate(zip(urls, is_marker, page_pos)):
        if m or member[i]:
            continue
        if fpos_min.get(u, 1 << 62) <= pp:
            continue
        keep[i] = pp == best_page[u]
    return keep


def _naive_news(urls, page_pos, link_pos, bloom):
    """news.go:248-262 over exact url strings: proposals in (page_pos,
    link_pos) order; SetBytes inside urlAllowed admits a url's first
    unseen proposal and blocks every later one, the same page's too."""
    member = bloom.contains_batch(list(urls))
    keep = [False] * len(urls)
    admitted = set()
    for i in sorted(range(len(urls)),
                    key=lambda i: (page_pos[i], link_pos[i])):
        if not member[i] and urls[i] not in admitted:
            admitted.add(urls[i])
            keep[i] = True
    return keep


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_admission_kernel_matches_naive(data):
    n_urls = data.draw(st.integers(2, 12))
    url_pool = [f"http://h{i % 3}.test/p/{i}" for i in range(n_urls)]
    bloom = BloomFilter(500, 0.01)
    seeded = data.draw(st.lists(st.sampled_from(url_pool), max_size=6))
    if seeded:
        bloom.add_many(seeded)

    n_rows = data.draw(st.integers(1, 40))
    if data.draw(st.booleans()):  # news: no markers, a link_pos per row
        urls = data.draw(st.lists(st.sampled_from(url_pool),
                                  min_size=n_rows, max_size=n_rows))
        page_pos = data.draw(st.lists(st.integers(0, 8), min_size=n_rows,
                                      max_size=n_rows))
        link_pos = data.draw(st.permutations(range(n_rows)))
        got, _, _ = _admission_keep(
            pa.chunked_array([pa.array(urls)]),
            np.array(page_pos, dtype=np.int64),
            np.array(link_pos, dtype=np.int32),
            np.full(n_rows, -1, dtype=np.int64), True, bloom)
        assert list(got) == _naive_news(urls, page_pos, link_pos, bloom)
        return
    urls, page_pos, f_pos, is_marker = [], [], [], []
    for _ in range(n_rows):
        urls.append(data.draw(st.sampled_from(url_pool)))
        marker = data.draw(st.booleans())
        is_marker.append(marker)
        if marker:
            f_pos.append(data.draw(st.integers(0, 8)))
            page_pos.append(-1)
        else:
            f_pos.append(-1)
            page_pos.append(data.draw(st.integers(0, 8)))

    h1, h2 = hash128_batch(urls)
    got = admission_keep_mask(
        h1, h2,
        np.array(page_pos, dtype=np.int64),
        np.array(f_pos, dtype=np.int64),
        np.array(is_marker, dtype=bool), bloom)
    want = _naive(urls, page_pos, f_pos, is_marker, bloom)
    assert list(got) == want
