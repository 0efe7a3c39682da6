"""Pure-Python reference text pipeline — the parity core.

Single source of truth for every string transformation the engine
performs.  Both the vectorized pandas UDFs (``functions/udfs.py``) and
the pytest oracles call *these* functions, which is what makes the
"byte-identical extracted text per url" invariant testable: the
invariant is *defined* by this module.

Reference semantics reproduced regex-for-regex from the Java sources
(cited per function).  Java regex subtleties handled explicitly:

* Java ``\\s`` is ASCII-only ``[ \\t\\n\\x0B\\f\\r]`` — Python ``\\s``
  is Unicode-aware, so we always spell the class out.
* Java ``String.trim()`` strips chars ``<= U+0020`` from both ends —
  not the same as Python ``str.strip()`` (Unicode whitespace).
* Java ``String.toLowerCase()`` (default locale) ≈ Python
  ``str.lower()`` (full Unicode case mapping) for the en locale.
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

# Java \s == [ \t\n\x0B\f\r] (ASCII-only). Java \S is its complement.
_JWS = " \\t\\n\\x0B\\f\\r"

_SCRIPT_RE = re.compile(r"(?is)<script.*?>.*?</script>")
_STYLE_RE = re.compile(r"(?is)<style.*?>.*?</style>")
_BLOCK_RE = re.compile(r"(?is)<(p|div|article|section)[^>]*>(.*?)</\1>")
_TAG_RE = re.compile(r"<[^>]+>")
_JWS_RUN_RE = re.compile(f"[{_JWS}]+")
_URL_IN_TEXT_RE = re.compile(f"https?://[^{_JWS}]+")
_NON_ALNUM_RE = re.compile(r"[^a-z0-9]+")
_TOKEN_RE = re.compile(r"[a-z]+")
_ALNUM_TOKEN_RE = re.compile(r"[a-z][a-z0-9]*")
_DIGITS_RE = re.compile(r"\d+")


def utf16_len(s: str) -> int:
    """Java ``String.length()``: UTF-16 code units, not codepoints —
    astral chars (emoji etc.) count 2.  All reference length thresholds
    compare against this."""
    if s.isascii():
        return len(s)
    return len(s) + sum(1 for ch in s if ch > "\uffff")


def java_trim(s: str) -> str:
    """Java ``String.trim()``: strip leading/trailing chars <= U+0020."""
    start, end = 0, len(s)
    while start < end and s[start] <= " ":
        start += 1
    while end > start and s[end - 1] <= " ":
        end -= 1
    return s[start:end]


def extract_text(html: str | None) -> str:
    """HTML → normalized text. Reference: ``jobs/Indexer.java:83-127``
    (``returnCleanedupPage`` steps 1–4; the debug-file side effect at
    :120-127 is dropped).  This is the golden ``text`` column: the
    engine must reproduce it byte-identically per url.
    """
    if html is None:
        return ""
    # Step 1: remove script/style (Indexer.java:90-91)
    html = _SCRIPT_RE.sub(" ", html)
    html = _STYLE_RE.sub(" ", html)
    # Step 2: extract <p|div|article|section> blocks (Indexer.java:94-106)
    parts: list[str] = []
    for m in _BLOCK_RE.finditer(html):
        block = _TAG_RE.sub(" ", m.group(2))
        block = _JWS_RUN_RE.sub(" ", block)
        block = java_trim(block)
        if utf16_len(block) > 50:  # keep likely paragraphs (UTF-16 units)
            parts.append(block + "\n")
    # Step 3: fallback if extracted too little (Indexer.java:109-112)
    text = java_trim("".join(parts))
    if utf16_len(text) < 80:
        text = java_trim(_JWS_RUN_RE.sub(" ", _TAG_RE.sub(" ", html)))
    # Step 4: normalize (Indexer.java:115-117)
    text = text.lower()
    text = _URL_IN_TEXT_RE.sub(" ", text)
    text = java_trim(_NON_ALNUM_RE.sub(" ", text))
    return text


def tokenize(text: str | None) -> list[str]:
    """Normalized text → body tokens. Reference: ``jobs/Indexer.java:129-140``
    (step 6): split on runs of whitespace; keep non-empty, ``[a-z]+``
    full-match, length <= 30.
    """
    if not text:
        return []
    out = []
    for t in _JWS_RUN_RE.split(text):
        if not t:
            continue
        if not _TOKEN_RE.fullmatch(t):
            continue
        if len(t) > 30:
            continue
        out.append(t)
    return out


def extract_and_tokenize(html: str | None) -> list[str]:
    """Full ``returnCleanedupPage`` pipeline (``jobs/Indexer.java:83-141``)."""
    return tokenize(extract_text(html))


_ENTITY_WORD_RE = re.compile(r"&[a-zA-Z]+;")


def clean_title_tokens(title: str | None) -> list[str]:
    """Title → tokens. Reference: ``jobs/TitleIndexer.java:82-103``:
    lowercase, strip ``&entity;``, non-alnum → space, keep
    ``[a-z][a-z0-9]*`` that are not pure digits, length <= 30.
    """
    if not title:
        return []
    t = title.lower()
    t = _ENTITY_WORD_RE.sub(" ", t)
    t = java_trim(_NON_ALNUM_RE.sub(" ", t))
    out = []
    for tok in _JWS_RUN_RE.split(t):
        if not tok:
            continue
        if not _ALNUM_TOKEN_RE.fullmatch(tok):
            continue
        if _DIGITS_RE.fullmatch(tok):
            continue
        if len(tok) > 30:
            continue
        out.append(tok)
    return out


# Reference stoplist: jobs/URLIndexer.java:12-26
URL_USELESS_TOKENS = frozenset(
    [
        "cgi", "action", "id", "page", "view", "list", "item", "detail",
        "login", "logout", "register", "signup", "signin",
        "search", "query", "q", "ref", "utm", "src", "sid", "session",
        "sessionid", "token", "auth", "verify", "confirm",
        "rss", "feed", "sitemap",
        "xml", "json", "txt", "pdf", "csv",
        "img", "image", "images",
        "jpg", "jpeg", "png", "gif", "svg", "ico",
        "css", "js",
        "mobile", "m", "amp", "api",
        "static", "assets", "content",
        "temp", "tmp", "backup", "old", "new",
        "error", "debug", "404", "500",
    ]
)

_NON_ALPHA_RE = re.compile(r"[^a-z]+")
_ALPHA_TOKEN_RE = re.compile(r"[a-z]+")


def extract_tokens_from_url(url: str | None) -> list[str]:
    """URL path → tokens (sorted, deduped). Reference:
    ``jobs/URLIndexer.java:80-107``: path lowercased, non-alpha → space,
    keep ``[a-z]+`` of length 2..30 minus the stoplist.  The reference
    returns a ``HashSet``; we canonicalize to sorted order.
    """
    if not url:
        return []
    # java.net.URI semantics: the constructor rejects RFC-2396-illegal
    # chars (URLIndexer's try/catch → empty set), and getPath() is null
    # for opaque (non-hierarchical) URIs like mailto:.
    if any(c in url for c in ' \t\n\r<>"{}|\\^`'):
        return []
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", url)
    if m and not m.group(2).startswith("/"):
        return []
    try:
        path = urlparse(url).path
    except Exception:
        return []
    if not path:
        return []
    path = java_trim(_NON_ALPHA_RE.sub(" ", path.lower()))
    if not path:
        return []
    result = set()
    for t in _JWS_RUN_RE.split(path):
        if len(t) < 2 or len(t) > 30:
            continue
        if not _ALPHA_TOKEN_RE.fullmatch(t):
            continue
        if t in URL_USELESS_TOKENS:
            continue
        result.add(t)
    return sorted(result)


_ANCHOR_TAG_RE = re.compile(r"(?s)<[^>]*>")


def cleanup_anchor(text: str | None) -> list[str]:
    """Anchor text → tokens. Reference: ``jobs/AnchorTextIndexer.java:100-120``."""
    if text is None:
        return []
    t = _ANCHOR_TAG_RE.sub(" ", text)
    t = t.lower()
    t = java_trim(_NON_ALNUM_RE.sub(" ", t))
    out = []
    for tok in _JWS_RUN_RE.split(t):
        if not tok:
            continue
        if not _ALNUM_TOKEN_RE.fullmatch(tok):
            continue
        if len(tok) > 30:
            continue
        out.append(tok)
    return out


# Reference stoplist: jobs/ImageAltSelfIndexer.java:12-17
ALT_USELESS = frozenset(
    [
        "logo", "icon", "image", "img", "photo", "picture",
        "banner", "thumbnail", "thumb", "avatar", "spacer",
        "header", "footer", "advertisement", "ad", "promo",
        "loading", "placeholder", "default", "profile", "user",
    ]
)

_NON_ALPHA_SPACE_RE = re.compile(r"[^a-zA-Z ]+")
_IMG_ALT_RE = re.compile(r'(?i)<img[^>]*alt\s*=\s*"([^"]*)"')
_PURE_DIGITS_RE = re.compile(r"^[0-9]+$")


def cleanup_meaningful_alt(text: str) -> list[str]:
    """Alt text → tokens. Reference: ``jobs/ImageAltSelfIndexer.java:107-125``."""
    t = _ANCHOR_TAG_RE.sub(" ", text)
    t = _NON_ALPHA_SPACE_RE.sub(" ", t)
    t = java_trim(t.lower())
    out = []
    for tok in t.split(" "):
        if not tok:
            continue
        if not _ALPHA_TOKEN_RE.fullmatch(tok):
            continue
        if tok in ALT_USELESS:
            continue
        if len(tok) > 30:
            continue
        out.append(tok)
    return out


def extract_alt_tokens(html: str | None) -> list[str]:
    """All meaningful <img alt> tokens of a page.
    Reference: ``jobs/ImageAltSelfIndexer.java:44-73`` (extraction loop
    with the whole-alt filters) + ``:107-125`` (per-token cleanup).
    """
    if not html:
        return []
    out: list[str] = []
    for m in _IMG_ALT_RE.finditer(html):
        alt = java_trim(m.group(1))
        if not alt:
            continue
        alt_lower = alt.lower()
        if len(alt_lower) <= 3:
            continue
        if alt_lower in ALT_USELESS:
            continue
        if _PURE_DIGITS_RE.fullmatch(alt_lower):
            continue
        out.extend(t for t in cleanup_meaningful_alt(alt_lower) if t)
    return out


_TITLE_TAG_RE = re.compile(r"(?is)<\s*title\b[^>]*>(.*?)<\s*/\s*title\s*>")
_OTHER_ENTITY_RE = re.compile(r"&[a-zA-Z0-9]+;")


def extract_title(html: str | None) -> str | None:
    """<title> extraction. Reference: ``jobs/Crawler.java:823-846``
    (regex :781, entity chain :830-837, 200-char cap :839-841)."""
    if html is None:
        return None
    m = _TITLE_TAG_RE.search(html)
    if not m:
        return None
    title = m.group(1)
    if title is None:
        return None
    title = title.replace("&nbsp;", " ").replace("&amp;", "&")
    title = title.replace("&lt;", "<").replace("&gt;", ">")
    title = title.replace("&quot;", '"').replace("&#39;", "'")
    title = java_trim(_OTHER_ENTITY_RE.sub(" ", title))
    if utf16_len(title) > 200:
        # Java substring(0, 197) cuts UTF-16 units (may split a
        # surrogate pair, exactly like the reference)
        u16 = title.encode("utf-16-le", "surrogatepass")[: 197 * 2]
        title = u16.decode("utf-16-le", "surrogatepass") + "..."
    return title


_A_TAG_RE = re.compile(r"(?is)<\s*a\b[^>]*>")
_HREF_ATTR_RE = re.compile(r"(?is)href\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+))")
_HTML_LANG_EN_RE = re.compile(r"(?is)<\s*html[^>]*\s+lang\s*=\s*[\"']en[\"']")


def extract_links(html: str | None) -> list[str]:
    """Raw hrefs of all <a> tags. Reference: ``jobs/Crawler.java:848-861``
    (patterns :779-780)."""
    if not html:
        return []
    out = []
    for m in _A_TAG_RE.finditer(html):
        h = _HREF_ATTR_RE.search(m.group())
        if h:
            val = h.group(2) or h.group(3) or h.group(4)
            if val:
                out.append(java_trim(val))
    return [v for v in out if v]


def is_non_english_wikipedia(url: str | None) -> bool:
    """Pre-download filter for ``<lang>.wikipedia.org`` hosts other
    than ``en``/``www``. Reference: ``jobs/Crawler.java:790-814``
    (uses URLParser.parseURL's host, lowercased; parse failure or a
    null host → False)."""
    if url is None:
        return False
    try:
        _, host, _, _ = parse_url(url)
    except Exception:
        return False
    if host is None:
        return False
    host = host.lower()
    if "wikipedia.org" in host:
        parts = host.split(".")
        if len(parts) >= 2:
            lang_code = parts[0]
            return lang_code != "en" and lang_code != "www"
    return False


def is_english_content(html: str | None) -> bool:
    """<html lang="en"> test. Reference: ``jobs/Crawler.java:816-821``."""
    if not html:
        return False
    return _HTML_LANG_EN_RE.search(html) is not None


def parse_url(url: str) -> tuple[str | None, str | None, str | None, str]:
    """[scheme, host, port, path+query]. Reference:
    ``tools/URLParser.java:8-31`` — a literal string-splitting parser,
    NOT RFC 3986; reproduced faithfully."""
    scheme = host = port = None
    slashslash = url.find("//")
    if slashslash > 0:
        scheme = url[: slashslash - 1]
        nextslash = url.find("/", slashslash + 2)
        if nextslash >= 0:
            host = url[slashslash + 2 : nextslash]
            pathq = url[nextslash:]
        else:
            host = url[slashslash + 2 :]
            pathq = "/"
        colon = host.find(":")
        if colon > 0:
            port = host[colon + 1 :]
            host = host[:colon]
    else:
        pathq = url
    return scheme, host, port, pathq


def normalize_seed(url: str) -> str:
    """Canonical ``scheme://host:port/path``. Reference:
    ``jobs/Crawler.java:651-661``."""
    scheme, host, port_s, pathq = parse_url(url)
    scheme = "http" if not scheme else scheme.lower()
    host = "" if host is None else host.lower()
    port = -1
    if port_s:
        try:
            port = int(port_s)
        except ValueError:
            port = -1
    if port == -1:
        port = 443 if scheme == "https" else 80
    if not pathq:
        pathq = "/"
    elif not pathq.startswith("/"):
        pathq = "/" + pathq
    frag = pathq.find("#")
    if frag >= 0:
        pathq = pathq[:frag]
    return f"{scheme}://{host}:{port}{pathq}"


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _normalize_2396(path: str) -> str:
    """RFC 2396 path normalization as ``java.net.URI.normalize`` does it:
    '.' segments dropped, 'seg/..' pairs collapsed, *leading '..' kept*
    (unlike RFC 3986's remove_dot_segments, which urljoin implements —
    the reference emits e.g. ``/../blubb/123.html``, verified against
    the compiled reference in tests/golden/normalize.golden)."""
    segs = path.split("/")
    stack: list[str] = []
    trailing = path.endswith("/")
    for seg in segs:
        if seg == ".":
            trailing = True
            continue
        if seg == "..":
            if stack and stack[-1] not in ("", ".."):
                stack.pop()
                trailing = True
            else:
                stack.append("..")
                trailing = False
        else:
            stack.append(seg)
            trailing = path.endswith("/")
    out = "/".join(stack)
    if trailing and not out.endswith("/"):
        out += "/"
    return out


def java_resolve(base: str, href: str) -> str:
    """``java.net.URI(base).resolve(href)`` for hierarchical http(s)
    bases (RFC 2396 §5.2)."""
    if _SCHEME_RE.match(href):
        return href
    b = urlparse(base)
    if href.startswith("//"):
        return f"{b.scheme}:{href}"
    # split href's path from query/fragment; only the path is merged+normalized
    m = re.match(r"^([^?#]*)([?#].*)?$", href)
    hpath, hsuffix = m.group(1), m.group(2) or ""
    if hpath.startswith("/"):
        merged = hpath
    elif hpath == "":
        merged = b.path or "/"
    else:
        bpath = b.path or "/"
        i = bpath.rfind("/")
        merged = (bpath[: i + 1] if i >= 0 else "/") + hpath
    return f"{b.scheme}://{b.netloc}{_normalize_2396(merged)}{hsuffix}"


_BAD_PROTO_SUBSTR = ("irc:", "javascript:", "mailto:", "tel:", "ftp:", "file:", "news:", "nntp:")
_BAD_PROTOS = frozenset(
    ["javascript", "mailto", "tel", "irc", "ftp", "file", "data", "about",
     "chrome", "moz", "news", "nntp", "gopher", "wais"]
)


def normalize_url(base: str, href: str | None) -> str | None:
    """Relative-URL resolution + canonicalization. Reference:
    ``jobs/Crawler.java:663-777`` (``normalizeAgainst``): scheme
    whitelist http/https, fragment strip, default-port canonicalization.
    Resolution delegates to ``urllib.parse.urljoin`` (RFC 3986), which
    matches ``java.net.URI.resolve`` on the reference's TestNormalize
    cases (``jobs/TestNormalize.java:6-22``; verified in
    tests/test_textproc.py)."""
    if not href:
        return None
    if href.startswith("#"):
        try:
            return normalize_seed(base)
        except Exception:
            return None
    href_lower = java_trim(href.lower())
    if any(b in href_lower for b in _BAD_PROTO_SUBSTR):
        return None
    if ":" in href_lower:
        protocol = java_trim(href_lower.split(":", 1)[0])
        if protocol and protocol not in ("http", "https"):
            # reference rejects every non-http(s) scheme (Crawler.java:684-699)
            if protocol in _BAD_PROTOS or protocol.startswith("x-"):
                return None
            return None
    if href.startswith("//"):
        scheme, _, _, _ = parse_url(base)
        scheme = "http" if not scheme else scheme.lower()
        href = scheme + ":" + href
    try:
        resolved = java_resolve(base, href)
        parsed = urlparse(resolved)
        scheme_l = (parsed.scheme or "").lower()
        if scheme_l not in ("http", "https"):
            return None
        q = parse_url(resolved)
        scheme = "http" if q[0] is None else q[0].lower()
        if scheme not in ("http", "https"):
            return None
        host = "" if q[1] is None else q[1].lower()
        port = -1
        if q[2]:
            try:
                port = int(q[2])
            except ValueError:
                port = -1
        if port == -1:
            port = 443 if scheme == "https" else 80
        pathq = q[3]
        if not pathq:
            pathq = "/"
        elif not pathq.startswith("/"):
            pathq = "/" + pathq
        frag = pathq.find("#")
        if frag >= 0:
            pathq = pathq[:frag]
        return f"{scheme}://{host}:{port}{pathq}"
    except Exception:
        return None


_URI_HOST_OK_RE = re.compile(r"^[A-Za-z0-9.\-]+$")
_IPV6_OK_RE = re.compile(r"^[0-9A-Fa-f:.]+$")


def extract_host(url: str | None) -> str | None:
    """Lowercased host of a URL (``java.net.URI.getHost()`` analogue);
    used by PageRank graph build (``jobs/PageRank.java:53-63``) and the
    ranker's PageRank blend (``jobs/SearchServer.java:160-163``).
    ``URI.getHost()`` returns null for RFC-2396-illegal reg-name hosts
    (e.g. underscores); urlparse accepts them, so mirror the rejection
    explicitly.  Bracketed IPv6 literals ARE returned by
    ``URI.getHost()`` — brackets included (RFC 2732) — so re-add the
    brackets urlparse strips rather than rejecting the ':' characters.
    Case: URI.getHost() preserves the host's case;
    this engine NORMALIZES to lowercase for every host (reg-name and
    IPv6 alike) because its callers group/join on the host and DNS
    names are case-insensitive — a deliberate, uniform divergence."""
    if not url:
        return None
    try:
        parts = urlparse(url)
        host = parts.hostname
    except Exception:
        return None
    if not host:
        return None
    if "[" in (parts.netloc or ""):
        # bracketed IPv6 literal: urlparse strips the brackets and
        # lowercases; URI.getHost() keeps them
        if _IPV6_OK_RE.match(host) and ":" in host:
            return f"[{host.lower()}]"
        return None
    if not _URI_HOST_OK_RE.match(host):
        return None
    return host.lower()


_PAGERANK_LINK_NORM_HTTP = "http"

_PAGERANK_HREF_RE = re.compile(r"(?i)href\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^>\s]+))")


def extract_links_for_pagerank(html: str | None, base_url: str) -> list[str]:
    """PageRank's own link extractor (distinct from the crawler's).
    Reference: ``jobs/PageRank.java:284-355``: scan for ``<a`` tags
    (case-insensitive), first href attr per tag, cap 500 links;
    normalize: http* pass through, ``//`` → ``http:``-prefixed,
    ``/``-rooted resolved against base host, everything else dropped;
    fragment stripped."""
    if not html:
        return []
    links: list[str] = []
    i = 0
    low = html.lower()
    # C-level ``str.find`` scan — visits exactly the positions the
    # reference's per-char loop matches (any "<a" prefix, incl. "<abbr",
    # per PageRank.java's indexOf-style scan); after a matched tag the
    # cursor jumps past its ">" just like the reference
    while len(links) < 500:
        i = low.find("<a", i)
        if i == -1:
            break
        tag_end = html.find(">", i)
        if tag_end == -1:
            break
        tag = html[i : tag_end + 1]
        m = _PAGERANK_HREF_RE.search(tag)
        if m:
            u = m.group(1) or m.group(2) or m.group(3)
            if u is not None:
                norm = _pagerank_normalize(u, base_url)
                if norm is not None:
                    links.append(norm)
        i = tag_end + 1
    return links


def _pagerank_normalize(href: str, base_url: str) -> str | None:
    """Reference: ``jobs/PageRank.java:336-355``."""
    try:
        if href.startswith("http"):
            return _strip_fragment(href)
        if href.startswith("//"):
            return _strip_fragment("http:" + href)
        if href.startswith("/"):
            p = urlparse(base_url)
            # urlparse returns '' (not None) for a missing scheme —
            # test falsiness, like java.net.URI.getScheme() == null
            if not p.scheme or not p.hostname:
                return None
            return _strip_fragment(f"{p.scheme}://{p.hostname}{href}")
        return None
    except Exception:
        return None


def _strip_fragment(url: str) -> str:
    idx = url.find("#")
    return url if idx == -1 else url[:idx]


def is_crawlable(url: str | None) -> bool:
    """Scheme gate: http/https only. Reference: ``jobs/Crawler.java:639-643``."""
    if not url:
        return False
    try:
        scheme, _, _, _ = parse_url(url)
    except Exception:
        return False
    scheme = (scheme or "").lower()
    return scheme in ("http", "https")


_FILTERED_EXTS = (".jpg", ".jpeg", ".gif", ".png", ".txt")


def filtered_by_ext(url: str) -> bool:
    """Binary/plain-file extension filter. Reference:
    ``jobs/Crawler.java:645-649``."""
    uu = url.lower()
    return uu.endswith(_FILTERED_EXTS)


def java_is_whitespace(c: str) -> bool:
    """``Character.isWhitespace``: Unicode space/line/paragraph
    separators EXCEPT non-breaking ones (U+00A0, U+2007, U+202F), plus
    ASCII control whitespace and the U+001C-1F file separators."""
    o = ord(c)
    if c in "\t\n\x0b\f\r" or 0x1C <= o <= 0x1F:
        return True
    if c in "\u00a0\u2007\u202f":
        return False
    import unicodedata

    return unicodedata.category(c) in ("Zs", "Zl", "Zp")


def java_is_blank(s: str | None) -> bool:
    """``String.isBlank()``: empty or all Java whitespace."""
    if s is None:
        return True
    return all(java_is_whitespace(c) for c in s)
