"""news.go admission heuristics as Catalyst column expressions (SURVEY F8).

Port of the reference's second accumulator type — the news crawler's URL
gate (/root/reference/worker/accumulator/news.go:211-290 and the
blacklists at news.go:22-76) — with every quirk kept:

  urlAllowed(u, origin)  (news.go:227-266), in evaluation order:
    1. u.Host == origin            — EXACT host equality, not same-domain
    2. NOT HasSuffixes(u.Path, blacklisted extensions)   (util.go:39-47:
       suffix match on the PATH, query strings never considered)
    3. robots.txt allowed          — composed from the robots operator
       (engine/robots.py); not part of these column expressions
    4. urlLooksLikeArticle(u)      (news.go:268-290):
         a. tokens = non-empty '/'-segments of the path; none → False
         b. tokens[0] CONTAINS 'article' (substring) → True, bypassing
            every later check including the path blacklist
         c. if EVERY token is <= 20 chars → False (an article link is
            assumed to carry at least one long slug token)
         d. tokens[0] contains ANY blacklisted path entry AS A SUBSTRING
            (util.go:49-57 ContainsAny) → False — so 'stags' is rejected
            because it contains 'tag' (reference quirk, kept)
         e. otherwise True
    5. path contains ':' AND path contains '=' → False
    6. seen-url bloom gate         — composed from the rolling bloom
       (engine/rolling_bloom.py); not part of these column expressions

  maxDepth = 1 (news.go:24): only depth-0 pages propose links at all.

``news_url_allowed`` is the pure column-expression predicate over
(path, host, origin_host) covering gates 1/2/4/5; robots and bloom are
separate operators in this engine (F5/F7) exactly as they are separate
resources in the reference. ``path_allowed_py`` is the scalar twin of
gates 2/4/5, which the crawl's gate kernel runs; ``url_allowed_py``
adds gate 1 over full URLs for the news_test.go golden and edge-case
pins.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

# news.go:24
NEWS_MAX_DEPTH = 1

# news.go:22-58
BLACKLISTED_EXTENSIONS = [
    ".jpg", ".jpeg", ".gif", ".raw", ".tiff", ".pdf", ".rtf", ".doc",
    ".ppt", ".svg", ".bmp", ".ico", ".png", ".webp", ".js", ".css",
    ".zip", ".scss", ".json", ".exe", ".jss", ".mp4", ".mkv", ".mov",
    ".avi", ".flv", ".wmv", ".aac", ".ogg", ".mp3", ".alac", ".m4a",
    ".flac", ".wav", ".wma",
]

# news.go:60-76
BLACKLISTED_PATHS = [
    "section", "tag", "tags", "hub", "opinion", "comment", "feed",
    "static", "_static", "css", "script", "js", "img", "wp-content",
    "assets",
]


def looks_like_article(path: Column) -> Column:
    """urlLooksLikeArticle (news.go:268-290) over a path column."""
    toks = F.filter(F.split(path, "/"), lambda t: t != "")
    first = F.element_at(toks, 1)
    has_long = F.exists(toks, lambda t: F.length(t) > 20)
    first_blacklisted = None
    for b in BLACKLISTED_PATHS:
        c = first.contains(b)
        first_blacklisted = c if first_blacklisted is None \
            else (first_blacklisted | c)
    return (F.when(F.size(toks) == 0, F.lit(False))
            .when(first.contains("article"), F.lit(True))
            .when(~has_long, F.lit(False))
            .when(first_blacklisted, F.lit(False))
            .otherwise(F.lit(True)))


def news_url_allowed(path: Column, host: Column,
                     origin_host: Column) -> Column:
    """The column-expression part of urlAllowed (gates 1/2/4/5 above)."""
    ext_blacklisted = None
    for e in BLACKLISTED_EXTENSIONS:
        c = path.endswith(e)
        ext_blacklisted = c if ext_blacklisted is None \
            else (ext_blacklisted | c)
    colon_eq = path.contains(":") & path.contains("=")
    return ((host == origin_host)
            & ~ext_blacklisted
            & looks_like_article(path)
            & ~colon_eq)


# -- scalar twin (goldens / oracle use) --------------------------------------

def _looks_like_article_py(path: str) -> bool:
    tokens = [t for t in path.split("/") if t != ""]
    if not tokens:
        return False
    if "article" in tokens[0]:
        return True
    if all(len(t) <= 20 for t in tokens):
        return False
    if any(b in tokens[0] for b in BLACKLISTED_PATHS):
        return False
    return True


def path_allowed_py(path: str) -> bool:
    """Gates 2/4/5 of urlAllowed over a url's path: the scalar twin of
    ``news_url_allowed`` less its host gate. The crawl's gate kernel
    (``operators.extract.link_gates``) runs it per outlink."""
    return (not path.endswith(tuple(BLACKLISTED_EXTENSIONS))
            and _looks_like_article_py(path)
            and not (":" in path and "=" in path))


def url_allowed_py(url: str, origin: str) -> bool:
    """Scalar urlAllowed twin over full URLs (robots/bloom excluded, as
    in the news_test.go setup: NullFilter robots + fresh bloom). It
    compares ``netloc``, so a port counts; the crawl compares hosts."""
    u = urlsplit(url)
    return u.netloc == urlsplit(origin).netloc and path_allowed_py(u.path)
