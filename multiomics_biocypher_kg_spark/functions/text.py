"""HTML synthesis + byte-identical text extraction.

The extraction rules are the web-corpus analog of the reference's
PDF text extraction (_extract_pdf_text / _clean_pdf_text,
/root/reference/multiomics_kg/adapters/pdf_publication_extraction.py:154-265):
a deterministic, rule-based binary->text transform whose output must
be byte-identical per url across runs and across Arrow batch
boundaries (BASELINE.json input_hint invariant).

Two implementations are kept in lock-step:

- ``synth_html_col`` / ``extract_text_col``-adjacent Spark-native
  Column builders (used by the engine; JVM-side, codegen'd), and
- pure-Python ``synth_html`` / ``extract_text`` (the single source
  of truth for the extraction rules, executed inside the vectorized
  pandas UDF in ``operators.extract`` and by unit tests).

Extraction contract:
1. decode bytes as UTF-8 (errors -> U+FFFD, never thrown)
2. drop <script>...</script>, <style>...</style>, <!-- comments -->
3. take the inner content of the first <main>...</main> region
   (content region marker; absent -> whole body, best effort)
4. strip remaining tags
5. HTML-unescape entities

No whitespace normalization is applied inside the content region —
that is what makes the transform byte-exact invertible for
well-formed pages.
"""

from __future__ import annotations

import html as _html
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- pure-Python reference implementation (UDF + tests) ---

_SCRIPT_RE = re.compile(r"<script\b.*?</script>", re.S | re.I)
_STYLE_RE = re.compile(r"<style\b.*?</style>", re.S | re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_MAIN_RE = re.compile(r"<main\b[^>]*>(.*?)</main>", re.S | re.I)
_BODY_RE = re.compile(r"<body\b[^>]*>(.*)", re.S | re.I)
_TAG_RE = re.compile(r"<[^>]*>")


def html_escape(text: str) -> str:
    """Minimal escape used by the synthesizer (& first, then angle brackets)."""
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def synth_html(
    url: str,
    text: str,
    lang: str,
    broken: bool = False,
    outlinks: list[str] | None = None,
    anchors: list[str] | None = None,
    noindex: bool = False,
) -> str:
    """Deterministic page synthesizer (FIXTURES.md A1 shape).

    Includes the strip targets the extractor must handle: scripts,
    styles, comments, entities, nested tags, and (when ``broken``)
    trailing malformed markup after the content region. ``outlinks``
    (raw hrefs) render as a ``<nav>`` block BEFORE ``<main>`` so the
    extracted text stays byte-identical with or without them;
    ``anchors`` supplies per-link anchor text (default 'link').
    """
    nav = ""
    if outlinks:
        texts = anchors if anchors is not None else ["link"] * len(outlinks)
        nav = (
            "<nav>"
            + "".join(
                f'<a href="{h}">{a}</a>' for h, a in zip(outlinks, texts)
            )
            + "</nav>"
        )
    meta = '<meta name="robots" content="noindex">' if noindex else ""
    body = (
        f'<html lang="{lang}"><head><title>{url}</title>{meta}'
        "<script>var t=1;function f(){return '<main>';}</script>"
        "<style>.x{color:red}/*<main>*/</style></head>"
        f'<body><!-- header for {url} --><h1>{url}</h1>{nav}'
        f"<main><p>{html_escape(text)}</p></main>"
        '<div class="footer">&copy; 2026 Example &amp; Co. &#174;</div>'
    )
    if broken:
        return body + "<div><span class='unclosed"
    return body + "</body></html>"


def extract_text(html_bytes: bytes | bytearray | None) -> str | None:
    """The extraction rule chain (see module docstring). Pure, total."""
    if html_bytes is None:
        return None
    raw = bytes(html_bytes).decode("utf-8", errors="replace")
    raw = _SCRIPT_RE.sub("", raw)
    raw = _STYLE_RE.sub("", raw)
    raw = _COMMENT_RE.sub("", raw)
    m = _MAIN_RE.search(raw)
    if m is not None:
        region = m.group(1)
    else:
        b = _BODY_RE.search(raw)
        region = b.group(1) if b is not None else raw
    stripped = _TAG_RE.sub("", region)
    return _html.unescape(stripped)


# --- Spark-native synthesizer (engine-side page generation) ---


def html_escape_col(c: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;"
    )


def synth_html_col(
    url: Column,
    text: Column,
    lang: Column,
    broken: Column,
    outlinks: Column | None = None,
    anchors: Column | None = None,
    noindex: Column | None = None,
) -> Column:
    """Column-expression twin of ``synth_html`` (kept byte-identical;
    guarded by tests/test_extract.py round-trip + parity tests).
    ``outlinks`` is an ``array<string>`` of raw hrefs (nav block
    before ``<main>``, invisible to extraction); ``anchors`` the
    parallel per-link anchor texts (default 'link'); ``noindex`` a
    boolean column rendering a robots meta tag in ``<head>``."""
    if outlinks is not None:
        if anchors is not None:
            rendered = F.zip_with(
                outlinks,
                anchors,
                lambda h, a: F.concat(
                    F.lit('<a href="'), h, F.lit('">'), a, F.lit("</a>")
                ),
            )
        else:
            rendered = F.transform(
                outlinks,
                lambda h: F.concat(F.lit('<a href="'), h, F.lit('">link</a>')),
            )
        nav = F.concat(
            F.lit("<nav>"), F.array_join(rendered, ""), F.lit("</nav>")
        )
    else:
        nav = F.lit("")
    meta = (
        F.when(noindex, F.lit('<meta name="robots" content="noindex">')).otherwise(
            F.lit("")
        )
        if noindex is not None
        else F.lit("")
    )
    head = F.concat(
        F.lit('<html lang="'),
        lang,
        F.lit('"><head><title>'),
        url,
        F.lit("</title>"),
        meta,
        F.lit("<script>var t=1;function f(){return '<main>';}</script>"),
        F.lit("<style>.x{color:red}/*<main>*/</style></head>"),
        F.lit("<body><!-- header for "),
        url,
        F.lit(" --><h1>"),
        url,
        F.lit("</h1>"),
        nav,
        F.lit("<main><p>"),
        html_escape_col(text),
        F.lit("</p></main>"),
        F.lit('<div class="footer">&copy; 2026 Example &amp; Co. &#174;</div>'),
    )
    return F.concat(
        head,
        F.when(broken, F.lit("<div><span class='unclosed")).otherwise(
            F.lit("</body></html>")
        ),
    )


def extract_text_native(html: Column) -> Column:
    """Native Column-expression twin of ``extract_text`` — the whole
    rule chain as JVM regexp ops inside whole-stage codegen. Zero
    JVM->Python boundary crossing, so it scales linearly with cores
    (the Arrow transfer of raw html is the measured bottleneck of the
    UDF engine on wide binary rows).

    Fidelity contract vs the reference implementation:
    - identical on pages whose entities are within the named set
      {&amp; &lt; &gt; &quot; &#39;} (everything the synthesizer emits),
    - full HTML entity table (html.unescape) needs the 'arrow'
      engine; tests assert native == arrow on every test corpus.
    """
    s = html.cast("string")
    # one fused pass for all three strip targets (regexp_replace
    # allocates a full copy of the page per call — at 10 GB/s of
    # pages the extra passes are GC-bound, not CPU-bound)
    s = F.regexp_replace(
        s, r"(?is)<script\b.*?</script>|<style\b.*?</style>|<!--.*?-->", ""
    )
    main = F.regexp_extract(s, r"(?is)<main\b[^>]*>(.*?)</main>", 1)
    body = F.regexp_extract(s, r"(?is)<body\b[^>]*>(.*)", 1)
    region = (
        F.when(s.rlike(r"(?is)<main\b[^>]*>.*?</main>"), main)
        .when(s.rlike(r"(?is)<body\b[^>]*>"), body)
        .otherwise(s)
    )
    stripped = F.regexp_replace(region, r"<[^>]*>", "")
    un = F.regexp_replace(stripped, "&lt;", "<")
    un = F.regexp_replace(un, "&gt;", ">")
    un = F.regexp_replace(un, "&quot;", '"')
    un = F.regexp_replace(un, "&#39;", "'")
    un = F.regexp_replace(un, "&amp;", "&")  # must be last (inverse of escape)
    return un
