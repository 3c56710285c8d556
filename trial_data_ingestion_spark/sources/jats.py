"""JATS XML parse kernel X1-X9 (SURVEY.md §2.4).

Reproduces the parse semantics of the reference
(``sources/pmc.py:111-152`` + ``preprocessing/xml_cleaning.py``) on
the Python stdlib ``xml.etree.ElementTree`` (the reference uses
BeautifulSoup/lxml, unavailable here; the consumed behaviors are
re-implemented, not ported):

* title from ``title-group/article-title`` else "Untitled"
* abstract from ``<abstract>``/``<trans-abstract>`` under ``<front>``,
  structured (per-``<sec>`` title + paras) or flat
* body = first ``<body>`` in document order (which subsumes the
  reference's explicit ``<sub-article><body>`` fallback)
* top-level ``<sec>`` trees with DROP_TAGS removed, direct-``<p>``
  text, title-cased section titles; no ``<sec>`` -> linearized
  "Full Text" block (paragraphs, bulleted lists, quotes)
* no body -> empty sections (abstract-only), never synthesized, and
  NOT an error even without an abstract (pmc.py:138-140)
* a present body yielding no sections AND no abstract -> error
  "No sections/text" (pmc.py:150-151)

Output is the engine's normalized flat form (SURVEY.md §1.3):
``sections: array<struct<section_path, text>>`` in document order with
``" / "``-joined title paths.  DIVERGENCE (documented): the reference
accumulates sibling sections into a dict keyed by title, so two
siblings with the same title silently overwrite each other
(``xml_cleaning.py:26-28``); the flat form keeps both.

Spark-side: ``parse_jats_kernel`` runs the parser in Arrow-batched
``mapInPandas`` — Spark parallelizes; nothing here is expressible
relationally.  All tag matching is namespace-agnostic (local names),
mirroring the Springer variant (``sources/springer.py:96-103``).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from trial_data_ingestion_spark.schemas import PARSED_ARTICLE

# xml_cleaning.py:6-10 — subtrees stripped from body text.
DROP_TAGS = {
    "fig", "fig-group", "table", "table-wrap", "graphic", "media",
    "alternatives", "inline-formula", "disp-formula", "tex-math",
    "ref-list", "license", "permissions", "copyright-statement",
    "supplementary-material", "fn", "fn-group",
}


def _local(tag) -> str:
    """Namespace-agnostic local tag name (springer.py:96-103)."""
    if not isinstance(tag, str):
        return ""
    return tag.rsplit("}", 1)[-1].lower()


def _find(el, name: str):
    for d in el.iter():
        if d is not el and _local(d.tag) == name:
            return d
    return None


def _find_all(el, *names):
    out = []
    for d in el.iter():
        if d is not el and _local(d.tag) in names:
            out.append(d)
    return out


def _children(el, name: str):
    return [c for c in el if _local(c.tag) == name]


def _drop_noise(el) -> None:
    """Remove DROP_TAGS subtrees in place (xml_cleaning.py:17-18)."""
    for parent in el.iter():
        for child in list(parent):
            if _local(child.tag) in DROP_TAGS:
                parent.remove(child)


def _get_text(el, sep: str = " ") -> str:
    """BeautifulSoup ``get_text(sep, strip=True)`` equivalent: strip
    each text node, join the non-empty ones."""
    if el is None:
        return ""
    parts = [t.strip() for t in el.itertext()]
    return sep.join(p for p in parts if p)


def _copy(el):
    import copy
    return copy.deepcopy(el)


def _section_entries(sec, parent_path: List[str]) -> List[Tuple[str, str]]:
    """<sec> subtree -> document-order (path, text) entries
    (xml_cleaning.py:12-28 flattened per chunkers.py:10-45)."""
    # Recursive first-in-document-order <title> lookup: the reference's
    # BeautifulSoup ``sec.find('title')`` descends, so a title nested in
    # a wrapper element still names the section (a direct-children-only
    # scan would mislabel it "Untitled Section").
    title_el = _find(sec, "title")
    title = (_get_text(title_el, "").title()
             if title_el is not None and _get_text(title_el, "")
             else "Untitled Section")
    sec = _copy(sec)
    _drop_noise(sec)
    paras = [_get_text(p) for p in _children(sec, "p")]
    text = " ".join(paras).strip()
    path = parent_path + [title]
    out: List[Tuple[str, str]] = []
    if text:
        out.append((" / ".join(path), text))
    for child in _children(sec, "sec"):
        out.extend(_section_entries(child, path))
    return out


def _linearize_body(body) -> List[Tuple[str, str]]:
    """Body without <sec>s -> one "Full Text" entry
    (xml_cleaning.py:35-55): paragraphs, then bulleted lists, then
    quotes/boxed text, joined with blank lines."""
    body = _copy(body)
    _drop_noise(body)
    chunks: List[str] = []
    for p in _find_all(body, "p"):
        txt = _get_text(p)
        if txt:
            chunks.append(txt)
    for lst in _find_all(body, "list"):
        items = [_get_text(li) for li in _children(lst, "list-item")]
        items = [it for it in items if it]
        if items:
            chunks.append("\n".join(f"• {it}" for it in items))
    for dq in _find_all(body, "disp-quote", "boxed-text"):
        txt = _get_text(dq)
        if txt:
            chunks.append(txt)
    full = "\n\n".join(c for c in chunks if c)
    return [("Full Text", full)] if full else []


def extract_abstract(root) -> Optional[str]:
    """X4 — abstract/trans-abstract, structured or flat
    (xml_cleaning.py:72-106)."""
    if root is None:
        return None
    parts: List[str] = []
    for ab in _find_all(root, "abstract", "trans-abstract"):
        secs = _children(ab, "sec")
        if secs:
            for sec in secs:
                title_el = _find(sec, "title")  # recursive, like BS find
                t = _get_text(title_el, "")
                if t:
                    parts.append(t)
                for p in _children(sec, "p"):
                    txt = _get_text(p)
                    if txt:
                        parts.append(txt)
        else:
            ps = _children(ab, "p")
            if not ps:
                txt = _get_text(ab)
                if txt:
                    parts.append(txt)
            else:
                for p in ps:
                    txt = _get_text(p)
                    if txt:
                        parts.append(txt)
    text = "\n\n".join(p for p in parts if p).strip()
    return text or None


def article_pmcid(article) -> Optional[str]:
    """X7 — scan article-id[pub-id-type=pmcid] (pmc.py:111-117).

    A leading 'pmc' prefix is uppercased (the reference's
    ``re.sub('^PMC', 'PMC', txt, flags=re.I)``) so lowercase ids from
    sloppy payloads still hit EFetch result lookups keyed by 'PMC...'.
    """
    for aid in _find_all(article, "article-id"):
        if (aid.get("pub-id-type") or "").lower() == "pmcid":
            txt = _get_text(aid, "")
            if txt:
                return re.sub(r"^pmc", "PMC", txt, flags=re.I)
    return None


def parse_article_element(article) -> dict:
    """X1 — one <article> element -> parsed record dict."""
    title = "Untitled"
    tg = _find(article, "title-group")
    if tg is not None:
        at = _find(tg, "article-title")
        if at is not None and _get_text(at, ""):
            title = _get_text(at, "")

    front = _find(article, "front")
    abstract = extract_abstract(front if front is not None else article)

    body = _find(article, "body")
    if body is None:
        return {"pmcid": article_pmcid(article), "title": title,
                "sections": [], "abstract": abstract, "error": None}

    secs = _children(body, "sec")
    if secs:
        entries: List[Tuple[str, str]] = []
        for s in secs:
            entries.extend(_section_entries(s, []))
    else:
        entries = _linearize_body(body)

    if not entries and not abstract:
        return {"pmcid": article_pmcid(article), "title": title,
                "sections": [], "abstract": None,
                "error": "No sections/text"}
    return {"pmcid": article_pmcid(article), "title": title,
            "sections": [{"section_path": p, "text": t}
                         for p, t in entries],
            "abstract": abstract, "error": None}


def parse_jats(xml: str) -> dict:
    """Parse a JATS document string; parse failures are data, not
    exceptions (they become failure side-output rows)."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as exc:
        return {"pmcid": None, "title": None, "sections": [],
                "abstract": None, "error": f"XML parse error: {exc}"}
    art = root if _local(root.tag) == "article" else _find(root, "article")
    if art is None:
        return {"pmcid": None, "title": None, "sections": [],
                "abstract": None, "error": "No <article> element"}
    return parse_article_element(art)


def parse_jats_response(xml: str) -> List[dict]:
    """S7 — split a multi-article EFetch payload into parsed records
    (pmc.py:213-256 parses each <article> of the batch response)."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as exc:
        return [{"pmcid": None, "title": None, "sections": [],
                 "abstract": None, "error": f"XML parse error: {exc}"}]
    arts = ([root] if _local(root.tag) == "article"
            else _find_all(root, "article"))
    if not arts:
        return []
    return [parse_article_element(a) for a in arts]


def parse_jats_kernel(df: DataFrame, xml_col: str,
                      id_col: str) -> DataFrame:
    """Arrow-batched distributed JATS parse: (id, xml) -> PARSED_ARTICLE
    rows plus the pass-through id.  One Python round-trip per batch;
    apply filters/projections *before* this barrier (§4.3)."""
    import pyspark.sql.types as T
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + PARSED_ARTICLE.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, xml in zip(pdf[id_col], pdf[xml_col]):
                rec = parse_jats(xml or "")
                rows.append((rid, rec["pmcid"], rec["title"],
                             rec["sections"], rec["abstract"],
                             rec["error"]))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.select(id_col, xml_col).mapInPandas(run, schema)
