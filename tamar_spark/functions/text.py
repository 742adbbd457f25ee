"""Text-analysis expression library for the documents pipeline.

Everything here returns Column expressions (JVM-side, codegen-friendly) —
the "scalar function library" capability the reference entirely lacks
(SURVEY §2.7: arbitrary Rust closures instead of a function library).

Used by the dedup/quality/language queries; each has a DuckDB-expressible
twin so results are oracle-checkable.  The crawl kernels that need Python
(entity, compression, WARC/HTTP, charset, Unicode and IDN) are scalar pandas
UDFs built by :func:`tamar_spark.functions._arrow.per_value`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, functions as F

from tamar_spark.functions._arrow import per_value

__all__ = [
    "tokens",
    "token_count",
    "avg_token_len",
    "stopword_ratio",
    "normalize_ws",
    "fingerprint",
    "html_main_text",
    "decode_numeric_entities",
    "HTML_ENTITIES",
    "canonical_url",
    "percent_normalize",
    "remove_dot_segments",
    "url_host",
    "idn_fold_host",
    "unicode_normalize",
    "decode_charset",
    "deflate_compress",
    "decompress_payload",
    "warc_parse",
    "http_response_split",
    "url_query_params",
    "URL_TRACKING_KEYS",
    "URL_TRACKING_PREFIXES",
    "lang_score",
    "lang_id",
    "quality_score",
    "bpe_ish_token_count",
]

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (trim first so empty docs yield one empty token
    consistently across engines)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda a, b: a + b
    )
    return F.round(total / F.size(toks), 4)


def stopword_ratio(text: Column, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return F.round(hits / F.size(toks), 4)


def normalize_ws(text: Column) -> Column:
    """Lowercase + collapse runs of whitespace — canonical form for exact
    fingerprinting."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: hex md5 of
    :func:`normalize_ws` of the text (identical in Spark and DuckDB).
    Compose :func:`unicode_normalize` first when spellings should
    collapse."""
    return F.md5(normalize_ws(text))


def lang_score(text: Column, markers: Sequence[str]) -> Column:
    """Count marker-word hits — the building block of the n-gram/stopword
    language-ID heuristic."""
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda w: w.isin(*markers))).cast("bigint")


_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("的", "是", "了", "在", "和"),
}


def lang_id(text: Column) -> Column:
    """Stopword-hit language-ID heuristic with deterministic tie-break
    (highest score wins; ties resolve in fixed language order; all-zero →
    'und')."""
    best_lang = F.lit("und")
    best_score = F.lit(-1).cast("bigint")
    for lang in sorted(_LANG_MARKERS):
        score = lang_score(text, _LANG_MARKERS[lang])
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return F.when(best_score <= 0, F.lit("und")).otherwise(best_lang)


def top_token_count(text: Column) -> Column:
    """Highest single-token frequency in ``text`` (the Gopher repetition
    numerator) as the longest equal-run of the SORTED token array — one
    O(L log L) array sort plus an O(L) fold per row, entirely in the
    projection.  The shuffle-free replacement for the
    ``groupBy(doc, token).count().groupBy(doc).max()`` formulation, which
    at corpus scale moves every token of every document."""
    long0 = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    return F.aggregate(
        F.sort_array(tokens(text)),
        F.struct(
            long0.alias("best"),
            long0.alias("cur"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(one),
            ).alias("best"),
            F.when(x == acc["prev"], acc["cur"] + 1).otherwise(one).alias("cur"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + average token
    length band + stopword presence."""
    n = token_count(text)
    atl = avg_token_len(text)
    sw = stopword_ratio(text)
    return F.round(
        (
            F.when((n >= 20) & (n <= 2000), 0.4).otherwise(0.0)
            + F.when((atl >= 2.0) & (atl <= 12.0), 0.3).otherwise(0.0)
            + F.when(sw > 0.0, 0.3).otherwise(0.0)
        ),
        2,
    )


# HTML entity decode table for :func:`html_main_text` — the named core
# plus the decimal forms the registered synthesis emits.  A FIXED table
# is the honest pure-codegen scope: generic `&#NNN;` decode needs a
# per-match chr(), i.e. one Arrow-batched mapInPandas stage of the same
# plan shape; unknown/malformed entities pass through verbatim (the
# WHATWG behavior for unparseable references), which the registered
# query pins adversarially.  Decode order matters and is single-pass
# left-to-right in real parsers; a static replace chain reproduces it
# as long as `&amp;` decodes LAST (so `&amp;lt;` correctly yields the
# literal `&lt;` instead of `<`).
HTML_ENTITIES = (
    ("&#101;", "e"),
    ("&#111;", "o"),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # keep last — see above
)


def decode_numeric_entities(text: Column) -> Column:
    """Decode numeric character references (``&#NNN;``, ``&#xHH;``,
    ``&#XHH;``) to their code points in one left-to-right pass; the
    output is never re-scanned, so ``&#38;lt;`` gives the literal
    ``&lt;``.  Code points 1..0x10FFFF outside D800-DFFF decode; ``&#0;``,
    surrogates, values past 0x10FFFF, references of more than 7 digits,
    unterminated and non-numeric forms pass through verbatim.  The
    windows-1252 remap of the C1 range is not applied.  One scalar
    pandas UDF."""
    return _entity_decode_single_pass(text, named=())


def _entity_decode_single_pass(text: Column, named=None) -> Column:
    """One left-to-right scan decoding numeric character references and
    the ``named`` ``(entity, char)`` table (default
    :data:`HTML_ENTITIES`) as alternatives at each position; replacement
    text is never re-read, and malformed references pass through as in
    :func:`decode_numeric_entities`."""
    import re

    if named is None:
        named = HTML_ENTITIES
    # numeric entries of the fixed table (&#101;/&#111;) are covered by
    # the numeric alternative — only true named forms join the pattern
    table = {ent: ch for ent, ch in named if not ent.startswith("&#")}
    alts = "".join(
        "|" + re.escape(ent[1:-1]) for ent in table  # '&amp;' -> 'amp'
    )
    pat = re.compile(
        r"&(?:#(?:([0-9]{1,7})|[xX]([0-9a-fA-F]{1,7}))" + alts + r");"
    )

    def repl(m):
        if m.group(1) is None and m.group(2) is None:
            return table[m.group(0)]
        cp = int(m.group(1)) if m.group(1) is not None else int(m.group(2), 16)
        if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return m.group(0)
        return chr(cp)

    def entity_decode(t):
        return pat.sub(repl, t)

    return per_value(entity_decode, "string")(text)


def deflate_compress(data: Column, fmt: str = "gzip") -> Column:
    """DEFLATE-family compression of a ``binary`` column at level 6:
    ``fmt`` ``gzip`` (RFC 1952, ``mtime=0`` so the header is
    deterministic), ``zlib`` (RFC 1950) or ``raw`` (RFC 1951); any other
    ``fmt`` raises ``ValueError``.  One scalar pandas UDF."""
    import gzip as _gzip
    import zlib as _zlib

    if fmt not in ("gzip", "zlib", "raw"):
        raise ValueError(f"unsupported fmt: {fmt!r}")

    def deflate(b):
        if fmt == "gzip":
            return _gzip.compress(b, compresslevel=6, mtime=0)
        if fmt == "zlib":
            return _zlib.compress(b, 6)
        co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
        return co.compress(b) + co.flush()

    return per_value(deflate, "binary")(data)


def decompress_payload(data: Column, max_bytes: int | None = None) -> Column:
    """Transport decompression of a ``binary`` column to a struct
    ``(data, codec, ok, n_out)``, detected by magic bytes only; never
    raises.

    - ``1F 8B`` → gzip.  Concatenated members decompress in sequence;
      trailing non-member bytes keep the prefix with ``ok=false``; a
      corrupt stream gives ``data=NULL, ok=false``.
    - A valid zlib header (CM=8, ``(CMF<<8|FLG) % 31 == 0``) → zlib.  The
      check is weak, so a body that fails to inflate passes through as
      ``store``.
    - Anything else, raw RFC 1951 included → ``store``: bytes verbatim,
      ``ok=true``.

    ``max_bytes`` caps the incremental inflate: past it the stream is
    abandoned with ``data=NULL, ok=false``.  One scalar pandas UDF."""
    import zlib as _zlib

    def _inflate(b, wbits):
        """(out_bytes, ok) under the cap; raises zlib.error on corrupt."""
        out = bytearray()
        rest = b
        while True:
            o = _zlib.decompressobj(wbits=wbits)
            budget = 0 if max_bytes is None else max_bytes - len(out) + 1
            out += o.decompress(rest, budget)
            if max_bytes is not None and len(out) > max_bytes:
                return None, False  # bomb: abandoned mid-stream
            while not o.eof:
                if not o.unconsumed_tail:
                    # truncated stream: no more input but not at eof
                    raise _zlib.error("truncated stream")
                budget = 0 if max_bytes is None else max_bytes - len(out) + 1
                out += o.decompress(o.unconsumed_tail, budget)
                if max_bytes is not None and len(out) > max_bytes:
                    return None, False
            rest = o.unused_data
            if not rest:
                return bytes(out), True
            if wbits == 31 and rest.startswith(b"\x1f\x8b"):
                continue  # next concatenated gzip member
            return bytes(out), False  # trailing garbage: flag, keep prefix

    def decompress(b):
        if b.startswith(b"\x1f\x8b"):
            codec, wbits = "gzip", 31
        elif len(b) >= 2 and (b[0] & 0x0F) == 8 and ((b[0] << 8) | b[1]) % 31 == 0:
            codec, wbits = "zlib", 15
        else:
            return b, "store", True, len(b)
        try:
            out, ok = _inflate(b, wbits)
        except _zlib.error:
            if codec == "zlib":
                # weak 2-byte header, failed body: the detection was
                # wrong — pass through as stored bytes
                return b, "store", True, len(b)
            out, ok = None, False
        return out, codec, ok, None if out is None else len(out)

    return per_value(
        decompress, "data binary, codec string, ok boolean, n_out bigint"
    )(data)


def _http_like_headers(b: bytes, sep: int) -> tuple:
    """``(first line, {lowercased name: stripped value})`` of the
    latin-1 header block ``b[:sep]``; the first ``:`` splits a header
    and the first occurrence of a name wins."""
    lines = b[:sep].decode("latin-1").split("\r\n")
    hdr: dict = {}
    for line in lines[1:]:
        k, c, v = line.partition(":")
        if c:
            hdr.setdefault(k.strip().lower(), v.strip())
    return lines[0], hdr


def warc_parse(data: Column) -> Column:
    """Parse one WARC/1.0 or WARC/1.1 record per ``binary`` value into a
    struct ``(warc_type, target_uri, warc_date, record_id, content_type,
    content_length, payload, ok)``; never raises.

    - A bad version line or no blank CRLF line → all-NULL fields,
      ``ok=false``.
    - Headers as in :func:`_http_like_headers`.
    - ``Content-Length`` selects the payload.  Missing or non-digit →
      ``ok=false`` with the whole remainder as payload; fewer bytes left
      than declared → ``ok=false, payload=NULL``.
    - After the payload only ``\\r\\n\\r\\n``, ``\\r\\n`` or nothing may
      follow, else ``ok=false`` with the payload kept.

    No obs-fold headers and no ``WARC-Segment`` reassembly.  One scalar
    pandas UDF."""
    invalid = (None,) * 7 + (False,)

    def parse_warc(b):
        sep = b.find(b"\r\n\r\n")
        if sep < 0 or not b.startswith(b"WARC/"):
            return invalid
        version, hdr = _http_like_headers(b, sep)
        if version not in ("WARC/1.0", "WARC/1.1"):
            return invalid
        named = tuple(
            hdr.get(k)
            for k in (
                "warc-type",
                "warc-target-uri",
                "warc-date",
                "warc-record-id",
                "content-type",
            )
        )
        rest = b[sep + 4 :]
        cl = hdr.get("content-length", "")
        if not cl.isdigit():
            return (*named, None, rest, False)  # mandatory header missing
        n = int(cl)
        if len(rest) < n:
            return (*named, n, None, False)  # truncated record
        return (*named, n, rest[:n], rest[n:] in (b"", b"\r\n", b"\r\n\r\n"))

    return per_value(
        parse_warc,
        "warc_type string, target_uri string, warc_date string, "
        "record_id string, content_type string, content_length bigint, "
        "payload binary, ok boolean",
    )(data)


def http_response_split(data: Column) -> Column:
    """Split an HTTP/1.x response per ``binary`` value into a struct
    ``(status, content_type, body, ok)``; never raises.

    - The status line must be ``HTTP/1.<d> <3-digit status> ...``;
      anything else, a request line included → all-NULL fields,
      ``ok=false``.
    - Headers as in :func:`_http_like_headers`.
    - ``body`` is everything after the blank line, not decoded;
      ``Transfer-Encoding`` and ``Content-Encoding`` are ignored.  A digit
      ``Content-Length`` that disagrees with the body size gives
      ``ok=false`` with the body kept.

    One scalar pandas UDF."""
    invalid = (None, None, None, False)

    def split_http(b):
        sep = b.find(b"\r\n\r\n")
        if sep < 0 or not b.startswith(b"HTTP/1."):
            return invalid
        status_line, hdr = _http_like_headers(b, sep)
        parts = status_line.split(" ")
        if len(parts) < 2 or not (len(parts[1]) == 3 and parts[1].isdigit()):
            return invalid
        body = b[sep + 4 :]
        cl = hdr.get("content-length", "")
        ok = not cl.isdigit() or int(cl) == len(body)
        return int(parts[1]), hdr.get("content-type"), body, ok

    return per_value(
        split_http, "status int, content_type string, body binary, ok boolean"
    )(data)


# WHATWG Encoding Standard label remaps we honor (the ONE widely-relied-on
# alias family: pages labeled latin-1/ascii are windows-1252 in every
# browser, and crawl text decoded as strict latin-1 would turn smart
# quotes into C1 control characters).  Everything else resolves through
# the Python codec registry by its stated label — deterministic, no
# statistical sniffing (stated decode_charset scope).
_CHARSET_WHATWG_1252 = frozenset(
    {
        "iso-8859-1",
        "iso8859-1",
        "latin-1",
        "latin1",
        "us-ascii",
        "ascii",
        "cp819",
        "l1",
        "windows-1252",
        "cp1252",
        "x-cp1252",
    }
)

# how far into the payload the <meta charset> prescan looks — the WHATWG
# prescan convention (browsers scan the first 1024 bytes)
_CHARSET_PRESCAN_BYTES = 1024


def decode_charset(data: Column) -> Column:
    """Charset decode of crawl payload bytes into a struct ``(text,
    encoding, n_replaced)``.

    The encoding is the first hint that resolves:

    1. a BOM: ``EF BB BF`` → UTF-8, ``FF FE`` / ``FE FF`` → UTF-16
       LE/BE (BOM stripped); a BOM beats any ``<meta>``;
    2. the first ``<meta ... charset=LABEL`` in the first 1024 bytes,
       resolved through the Python codec registry with the WHATWG
       latin-1/ascii → windows-1252 remap; an unknown label falls
       through;
    3. UTF-8.

    Undecodable byte runs become U+FFFD and ``n_replaced`` counts them
    exactly; ``encoding`` is the canonical codec name used.  No
    statistical sniffing, no UTF-32 BOM, no ``<?xml`` charset.  One
    scalar pandas UDF."""
    import codecs
    import re

    meta_re = re.compile(
        r"(?is)<meta[^>]{0,256}?charset\s*=\s*[\"']?\s*([a-z0-9_.:+-]+)"
    )
    count = [0]

    def count_replace(exc):
        if isinstance(exc, UnicodeDecodeError):
            count[0] += 1
            return ("\ufffd", exc.end)
        raise exc

    def resolve(label: str) -> str | None:
        lab = label.strip().lower()
        if lab in _CHARSET_WHATWG_1252:
            return "cp1252"
        try:
            return codecs.lookup(lab).name
        except LookupError:
            return None

    def decode(b):
        if b.startswith(b"\xef\xbb\xbf"):
            enc, payload = "utf-8", b[3:]
        elif b.startswith(b"\xff\xfe"):
            enc, payload = "utf-16-le", b[2:]
        elif b.startswith(b"\xfe\xff"):
            enc, payload = "utf-16-be", b[2:]
        else:
            payload = b
            m = meta_re.search(b[:_CHARSET_PRESCAN_BYTES].decode("latin-1"))
            enc = (resolve(m.group(1)) if m else None) or "utf-8"
        # the handler is global to the worker: register this closure's
        # counter before each decode
        codecs.register_error("tamar_count_replace", count_replace)
        count[0] = 0
        text = payload.decode(enc, errors="tamar_count_replace")
        return text, enc, count[0]

    return per_value(decode, "text string, encoding string, n_replaced bigint")(data)


def unicode_normalize(
    text: Column, form: str = "NFC", casefold: bool = False
) -> Column:
    """Unicode normal form ``form`` (``NFC``, ``NFD``, ``NFKC`` or
    ``NFKD``; any other raises ``ValueError``) of a string column.  With
    ``casefold=True`` the full Unicode case fold follows and the result
    is normalized again.  Idempotent.  No whitespace changes, no
    locale-tailored folds, no default-ignorable stripping.  One scalar
    pandas UDF."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unsupported normal form: {form!r}")
    import unicodedata

    def normalize(t: str) -> str:
        out = unicodedata.normalize(form, t)
        if casefold:
            out = unicodedata.normalize(form, out.casefold())
        return out

    return per_value(normalize, "string")(text)


def html_main_text(html: Column, numeric_entities: bool = False) -> Column:
    """Main-text extraction from HTML — the first stage of every real
    pretraining pipeline (WET-style text harvesting), entirely in
    JVM-side codegen expressions (no Python in the hot path):

    1. drop ``<script>``/``<style>`` blocks FIRST (their character data
       may contain markup-looking strings — a ``'<p>'`` inside inline
       JS must never fabricate a paragraph), then HTML comments
       (``<!-- -->`` may wrap commented-out markup that must not leak
       into paragraphs; after script removal, so a JS string containing
       ``-->`` cannot truncate a comment scan);
    2. drop the structural boilerplate containers — ``<head>`` (title
       is chrome, not content), ``<nav>``, ``<header>``, ``<footer>``,
       ``<aside>``;
    3. keep PARAGRAPH blocks only (``<p>…</p>``): the jusText/
       trafilatura insight reduced to its structural core — content
       lives in paragraph units, so link farms, menus, and bare ``<div>``
       link clusters drop out without per-line classification;
    4. strip remaining inline tags (``<b>``, ``<em>``, ``<a …>``) to
       spaces, decode entities (:data:`HTML_ENTITIES` — ``&amp;``
       last), collapse whitespace, trim.

    Unknown and malformed entities (``&#xZZ;``, ``&unknown;``) pass
    through verbatim rather than corrupting neighboring text.  With
    ``numeric_entities=True``, arbitrary ``&#NNN;``/``&#xHH;``
    references decode too — numeric AND named references resolve in
    ONE Arrow-batched left-to-right pass replacing the fixed-table
    chain (a reference's replacement text is never re-read, so
    ``&amp;#65;`` → literal ``&#65;`` and ``&#38;lt;`` → literal
    ``&lt;`` — the numeric spelling of the same hazard, r14 review
    finding); the default stays pure codegen.

    Scale: pure string expressions inside WholeStageCodegen — cost ∝
    bytes, no shuffle; zero Python by default, exactly one Arrow stage
    with ``numeric_entities=True``."""
    c = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?is)<(head|nav|header|footer|aside)[^>]*>.*?</\1>", " "
    )
    # the tag-name boundary matters: a bare <p[^>]*> would also match
    # <pre>/<param>/<picture> openers and leak preformatted content into
    # the extracted text (r13 review finding)
    paras = F.regexp_extract_all(
        c, F.lit(r"(?is)<p(?:\s[^>]*)?>(.*?)</p\s*>"), 1
    )
    t = F.array_join(paras, " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    if numeric_entities:
        t = _entity_decode_single_pass(t)
    else:
        for ent, ch in HTML_ENTITIES:
            t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# the RFC 3986 §2.3 unreserved set: characters with IDENTICAL meaning
# encoded or bare, so canonicalization must decode them (%7E ≡ ~ ≡ %7e);
# everything else (delimiters, %25 itself) stays encoded — decoding a
# %2F or %23 would fabricate a path segment or fragment
_URL_UNRESERVED = (
    [chr(c) for c in range(ord("A"), ord("Z") + 1)]
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [chr(c) for c in range(ord("0"), ord("9") + 1)]
    + ["-", ".", "_", "~"]
)


def percent_normalize(url: Column) -> Column:
    """Percent-encoding normalization per RFC 3986 §6.2.2 (r13 VERDICT
    task 1a — previously a declared scope line, and the first thing
    real crawl URLs hit: ``%7E`` vs ``%7e`` vs ``~`` split one resource
    across three dedup keys), entirely in codegen:

    1. uppercase the hex digits of every valid escape (``%3a`` →
       ``%3A``) — six lowercase letters × two positions = 12
       ``regexp_replace`` passes, each anchored to a full two-hex-digit
       escape so a bare ``%`` is never touched;
    2. decode the UNRESERVED characters (:data:`_URL_UNRESERVED` —
       ALPHA / DIGIT / ``-._~``) from their now-uppercase escapes: 66
       literal ``replace`` passes.  Reserved characters and ``%25``
       stay encoded — decoding a delimiter would change the URL's
       structure, exactly what §2.2 forbids.

    Idempotent on ALL input (r15, closing the r14 ADVICE): a leading
    protection pass percent-encodes every MALFORMED bare ``%`` (one
    not followed by two hex digits) to ``%25`` — RFC 3986's grammar
    forbids a bare ``%``, so any consistent canonical spelling is
    legitimate for a dedup key, and ``%25`` is the one that makes the
    chain CLOSED.  After protection every ``%`` owns its two hex
    digits: surviving escapes are uppercase non-unreserved 3-char
    units no pass rewrites, decoded output is never ``%``, and no
    bare ``%`` remains to steal decoded characters — so fabrication
    (the r14 documented divergence, ``'%%37%45'`` → ``'%7E'`` →
    ``'~'``) is impossible and ``chain(chain(x)) == chain(x)`` holds
    for every string, fuzzed including bare-``%`` inputs.  (No FIXED
    number of extra decode sweeps could do this: nesting fabrications
    — ``'%%%33%37%45'`` needs three passes — constructs a k-pass
    divergent input for any k; making the malformed case valid is the
    only closed form.)

    Scale: a chain of fixed-pattern string passes inside
    WholeStageCodegen — cost ∝ bytes, no shuffle, no UDF; when several
    projection consumers share it, whole-stage subexpression
    elimination evaluates the chain once."""
    # protection first (order vs the case passes is immaterial — they
    # touch disjoint patterns — but first makes the invariant local:
    # everything below this line sees RFC-valid escapes only)
    s = F.regexp_replace(url, "%(?![0-9A-Fa-f]{2})", "%25")
    for low in "abcdef":
        up = low.upper()
        s = F.regexp_replace(s, f"%([0-9A-Fa-f]){low}", f"%$1{up}")
        s = F.regexp_replace(s, f"%{low}([0-9A-Fa-f])", f"%{up}$1")
    # decode order is unobservable now that the protection pass has
    # removed every bare '%' (fabricating a new escape needed one);
    # keep the r14 descending-code order so the pass list is stable
    for ch in sorted(_URL_UNRESERVED, key=ord, reverse=True):
        s = F.replace(s, F.lit("%%%02X" % ord(ch)), F.lit(ch))
    return s


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal for an absolute path, as a
    segment fold in codegen (r14 — the second-to-last canonical_url
    scope line): ``/a/b/../c/./d`` → ``/a/c/d``, excess ``..`` at the
    root drops (``/../a`` → ``/a``), and a trailing ``.``/``..`` keeps
    the directory form (``/a/b/..`` → ``/a/``, per the RFC's
    replace-with-empty rule).  Empty segments (``//``) are preserved —
    they are valid and meaningful to some servers.

    Runs AFTER :func:`percent_normalize` in :func:`canonical_url`
    (§6.2.2.3: ``%2E`` is unreserved and decodes to ``.`` first, so an
    encoded dot-segment resolves too).

    Implementation: ``aggregate`` over ``split(path, '/')`` with an
    array accumulator — ``.`` skips, ``..`` pops (never past the
    root), anything else appends; a trailing ``.``/``..`` is first
    rewritten to its slash-terminated form so the split carries the
    final empty segment.  The fold is an interpreted (CodegenFallback)
    expression, and dot-segments are RARE in real crawl URLs — so a
    cheap codegen ``rlike`` guard keeps the dominant no-dot-segment
    case out of the interpreter and only matching rows pay the fold;
    on non-matching rows the path passes through untouched, which
    equals the fold's split/join round-trip output.  (Measured honesty:
    at this fixture's URL sizes the percent-normalization chain, not
    the fold, dominates canonical_url's warm cost — guarded and
    unguarded read within noise of each other; the guard matters when
    paths are deep and dot-segments rare, i.e. real crawl data.)"""
    has_dotseg = path.rlike(r"/\.{1,2}(/|$)")
    p = F.regexp_replace(path, r"/\.\.$", "/../")
    p = F.regexp_replace(p, r"/\.$", "/./")
    segs = F.split(p, "/")
    empty = F.expr("array()").cast("array<string>")
    folded = F.aggregate(
        segs,
        empty,
        lambda acc, x: F.when(x == ".", acc)
        .when(
            x == "..",
            F.when(
                F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)
            ).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(x))),
    )
    return F.when(has_dotseg, F.array_join(folded, "/")).otherwise(path)


# query parameters dropped by canonical_url — the tracker families every
# crawl canonicalizer strips (public convention): UTM campaign tags match
# by key PREFIX (utm_source, utm_medium, ...), the Facebook/Google click
# ids by exact KEY (with or without a value — a bare '?fbclid' must drop
# the same as '?fbclid=abc'; r13 review finding)
URL_TRACKING_PREFIXES = ("utm_",)
URL_TRACKING_KEYS = ("fbclid", "gclid")


def canonical_url(url: Column, idn: bool = False) -> Column:
    """Canonical form of an absolute http(s) URL — the crawl-dedup key
    (two fetches of one resource must collapse to one key), entirely in
    codegen expressions:

    - scheme and host lowercase (the case-insensitive URL parts; path
      and query stay case-sensitive per RFC 3986);
    - the scheme's DEFAULT port stripped (``:443`` for https, ``:80``
      for http) — a NON-default port is meaningful and survives;
    - fragment dropped (client-side only, never sent to the server);
    - tracking parameters removed (:data:`URL_TRACKING_PREFIXES`);
    - surviving query parameters sorted (order is transport noise) and
      the ``?`` dropped entirely when none survive;
    - an empty path normalized to ``/``;
    - percent-encoding normalized FIRST (:func:`percent_normalize`,
      r14): escape hex uppercased, unreserved characters decoded —
      ``%7E``/``%7e``/``~`` collapse to one key.  Normalizing the whole
      string before splitting is safe because delimiters never decode
      (``%2F``/``%23``/``%3F``/``%26``/``%3D`` are not unreserved), so
      no pass can fabricate a path boundary, fragment, query, or
      parameter split;
    - dot-segments resolved (:func:`remove_dot_segments`, r14 — after
      percent normalization per §6.2.2.3, so ``%2E`` dot-segments
      resolve too);
    - userinfo preserved VERBATIM (r14): ``user:pass@host`` is
      case-sensitive, so the host fold splits at the last ``@`` and
      folds only the host side (:func:`url_host` returns the bare
      host for grouping; the canonical string keeps the userinfo);
    - with ``idn=True`` (r15), internationalized host labels fold to
      their punycode ASCII form (:func:`idn_fold_host` — a Unicode
      host and its ``xn--`` DNS spelling are one key); the default
      stays pure codegen, preserving url_canonicalize's zero-Python
      plan contract.

    The canonical_url scope lines are now closed; the remaining URL
    non-goal is scheme-specific semantics beyond http(s) defaults."""
    u = percent_normalize(url)
    path_raw = F.regexp_extract(u, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    path = remove_dot_segments(
        F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    )
    canon_q = F.array_join(F.array_sort(url_query_params(u)), "&")
    return F.concat(
        _url_scheme(u),
        F.lit("://"),
        _url_userinfo(u),
        url_host(u, idn=idn),
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )


def _url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))


def url_query_params(url: Column) -> Column:
    """The non-tracking query parameters of ``url`` as an unsorted array
    of ``key=value`` strings (empty array when none survive).  The
    query is everything between the FIRST ``?`` that precedes any ``#``
    and the fragment — a ``?`` inside the fragment is fragment text,
    not a query (r13 review finding: an unanchored ``\\?([^#]*)`` match
    resurrected in-fragment text as parameters)."""
    qstr = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)

    def keep(p):
        cond = p != ""
        for prefix in URL_TRACKING_PREFIXES:
            cond = cond & ~p.startswith(prefix)
        for key in URL_TRACKING_KEYS:
            cond = cond & (p != key) & ~p.startswith(key + "=")
        return cond

    return F.filter(F.split(qstr, "&"), keep)


def _url_userinfo(url: Column) -> Column:
    """The ``user:pass@`` prefix of the authority (including the
    ``@``), or '' — case-sensitive per RFC 3986 §3.2.1, so
    :func:`canonical_url` carries it verbatim while the host folds.
    The split is at the LAST ``@`` of the authority (greedy match):
    an ``@`` inside userinfo belongs to the userinfo."""
    return F.regexp_extract(url, r"^[^:]+://([^/?#]*@)", 1)


def url_host(url: Column, idn: bool = False) -> Column:
    """The canonical (lowercased, default-port-stripped, bare) host of
    ``url`` — the grouping key for per-domain crawl statistics, and
    the host component :func:`canonical_url` assembles (one source of
    truth for the scheme-aware default-port rule).  Userinfo is
    STRIPPED here (r14): ``user@Ex.COM`` and ``Ex.com`` are the same
    domain for stats; the canonical string keeps the userinfo via its
    own component.  With ``idn=True`` (r15) the host additionally
    folds internationalized labels to their punycode ASCII form via
    :func:`idn_fold_host` — one Arrow stage; the default stays pure
    codegen."""
    scheme = _url_scheme(url)
    hostport = F.lower(
        F.regexp_extract(url, r"^[^:]+://(?:[^/?#]*@)?([^/?#@]*)", 1)
    )
    bare = (
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport)
    )
    return idn_fold_host(bare) if idn else bare


def idn_fold_host(host: Column) -> Column:
    """Fold the labels of an already-lowercased bare host to RFC 3492
    punycode, so a Unicode host and its ``xn--`` form are one key.  Per
    ``.``-separated label: pure ASCII without ``xn--`` stays verbatim; a
    non-ASCII label is NFC-normalized and encoded as ``xn--`` +
    punycode; an ``xn--`` label is decoded, NFC-normalized and encoded
    again, and invalid punycode stays verbatim.  No UTS-46/IDNA2008
    mapping, no bidi or label-length checks.  One scalar pandas UDF."""
    import unicodedata

    def fold_label(lab: str) -> str:
        if lab.startswith("xn--"):
            try:
                decoded = lab[4:].encode("ascii").decode("punycode")
                nfc = unicodedata.normalize("NFC", decoded)
                return "xn--" + nfc.encode("punycode").decode("ascii")
            except UnicodeError:
                return lab  # invalid punycode: verbatim
        if lab.isascii():
            return lab
        nfc = unicodedata.normalize("NFC", lab)
        try:
            return "xn--" + nfc.encode("punycode").decode("ascii")
        except UnicodeError:  # defensive: stdlib encode accepts any str
            return lab

    def fold_host(h: str) -> str:
        return ".".join(fold_label(lab) for lab in h.split("."))

    return per_value(fold_host, "string")(host)


def bpe_ish_token_count(text: Column) -> Column:
    """Approximate subword token count: word chunks + digits + punctuation as
    separate tokens (a BPE-flavored regex heuristic; deliberately simple so
    the DuckDB twin matches exactly)."""
    # count matches of: runs of letters (≤4 chars per token piece), digits, or single non-space symbol
    pieces = F.split(F.trim(text), r"\s+")
    per_word = F.transform(
        pieces, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("bigint")
    )
    return F.aggregate(per_word, F.lit(0).cast("bigint"), lambda a, b: a + b)
