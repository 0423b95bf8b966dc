"""HTML -> Markdown generation: an event-driven emitter on stdlib
``html.parser``, behavior-pinned byte-for-byte against the reference's
CustomHTML2Text under DefaultMarkdownGenerator's default options
(body_width=0, single_line_break=True, mark_code=True, no escaping —
/root/reference/crawl4ai/markdown_generation_strategy.py:180-200,
/root/reference/crawl4ai/html2text/__init__.py:1035-1150) WITHOUT porting
that code: the observable semantics below were derived by studying the
reference's behavior and pinned against captured fixtures
(tests/fixtures/ref_markdown.json via scripts/make_ref_fixtures.py);
tests/test_ref_differential.py asserts the byte-identity rate.

Why event-driven rather than a DOM walk: the reference converts the HTML
*token stream* (its converter subclasses html.parser.HTMLParser), so
whitespace, entity-chunk boundaries, and tag-soup recovery are properties
of the stream, not of a normalized tree.  Driving the same stdlib parser
gives byte parity on real-world pages for free.

Pinned emission semantics (the observable contract):
  * paragraph breaks are LAZY: block tags set a pending break count
    (single_line_break => one '\\n'); the break is materialized by the next
    output, carrying the blockquote prefix and any pending '  ' (<br>/table
    row) toggle.  Document end flushes exactly one '\\n'.
  * text runs are whitespace-collapsed; a leading space becomes a pending
    space emitted before the next output unless a line break intervenes;
    trailing spaces stay attached to the text (so 'x </p>' keeps its space).
  * emphasis marks are emitted even when the element is empty ('****');
    text immediately after an emphasis OPEN is stripped; text following
    emphasis content gets a separating space when it starts with a word
    character (not inside a/code/headers); an emphasis opening right after
    a word character inserts ' _' / after '*' inserts ' **'.
  * entities fold per the unifiable table (&mdash; -> '--', &nbsp; -> a
    placeholder collapsed to ' ' at the end); LITERAL unicode passes
    through untouched; attribute values are never folded.
  * links: inline '[text](url "title")'; '<url>' autolink when the link
    text equals an absolute href; empty '<a href=..></a>' -> '[](url)';
    mailto: hrefs are ignored; '[', ']', '(', ')' and '\\' are escaped
    inside urls/alt/titles.
  * pre -> plain ``` fences with raw (uncollapsed) content; inline code ->
    backticks, newlines flattened to spaces, content never escaped.
  * lists: two-space indent per level ('   ' for a ul directly inside an
    ol), '* ' / 'n. ' markers, <ol start=N> honored, one blank line after
    the outermost list ends.
  * tables: 'a| b' cell joins, '---' separator mirroring the header row's
    cell count (no colspan expansion), every row soft-broken with '  '.
  * blockquote: '> ' prefixes carried by the pending-break machinery
    (nesting '> > '), the first inner block's break suppressed.
  * dl: blank line before each non-first <dt>, <dd> indented four spaces.
  * backslashes before markdown-significant chars are doubled; no other
    escaping (escape_snob/dot/plus/dash all off in the pinned config).

Outputs:
  raw_markdown            — plain conversion, links inline [text](href)
  markdown_with_citations — links become ``text⟨n⟩`` markers
  references_markdown     — '## References' block listing ⟨n⟩: url
  fit_markdown / fit_html — conversion of the content-filtered HTML
                            (see content_filter.py)
"""

from __future__ import annotations

import html.entities
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from urllib.parse import urljoin

from .htmldom import VOID_TAGS, Comment, Node

_WS = re.compile(r"\s+")
# text following emphasis content gets a separating space when it starts
# with a word-ish character (not bracket/brace/space/sentence punctuation)
_AFTER_STRESS = re.compile(r"[^][(){}\s.!?]")
_ABS_URL = re.compile(r"^[a-zA-Z+]+://")
_MD_CHARS = re.compile(r"([\\\[\]\(\)])")
_BACKSLASH = re.compile(r"(\\)(?=[\\`*_{}\[\]()#+\-.!])")
_NBSP_PH = "&nbsp_place_holder;"

# entity references that fold to ASCII (literal unicode chars pass through
# untouched; numeric charrefs fold via the same table, except nbsp)
_ENTITY_UNIFY = {
    "rsquo": "'", "lsquo": "'", "rdquo": '"', "ldquo": '"',
    "copy": "(C)", "mdash": "--", "nbsp": _NBSP_PH, "rarr": "->",
    "larr": "<-", "middot": "*", "ndash": "-", "oelig": "oe", "aelig": "ae",
    "agrave": "a", "aacute": "a", "acirc": "a", "atilde": "a", "auml": "a",
    "aring": "a", "egrave": "e", "eacute": "e", "ecirc": "e", "euml": "e",
    "igrave": "i", "iacute": "i", "icirc": "i", "iuml": "i",
    "ograve": "o", "oacute": "o", "ocirc": "o", "otilde": "o", "ouml": "o",
    "ugrave": "u", "uacute": "u", "ucirc": "u", "uuml": "u",
    "lrm": "", "rlm": "",
}
_CHARREF_UNIFY = {
    html.entities.name2codepoint[k]: v
    for k, v in _ENTITY_UNIFY.items() if k != "nbsp"
}


def _escape_md(s: str) -> str:
    """Escape markdown-sensitive chars inside other constructs (urls, alt)."""
    return _MD_CHARS.sub(r"\\\1", s)


def _header_level(tag: str) -> int:
    if len(tag) == 2 and tag[0] == "h" and "0" < tag[1] <= "9":
        return int(tag[1])
    return 0


@dataclass
class MarkdownResult:
    raw_markdown: str = ""
    markdown_with_citations: str = ""
    references_markdown: str = ""
    fit_markdown: str = ""
    fit_html: str = ""


class _Converter(HTMLParser):
    """One-document HTML→markdown conversion pass."""

    def __init__(self, *, baseurl: str = ""):
        super().__init__(convert_charrefs=False)
        self.baseurl = baseurl
        self.outlist: list[str] = []
        self.last_was_nl = False
        # pending-output state
        self.pending_breaks = 0        # lazy paragraph/line breaks
        self.pending_space = False     # deferred leading space
        self.br_toggle = ""            # '  ' when a soft (two-space) break is due
        self.at_start = True           # suppresses break/space at doc/bq/li start
        # text-flow state
        self.quiet = 0                 # head/script/style depth
        self.stressed = False          # just opened emphasis: strip next text
        self.after_stress = False      # emphasis content emitted: maybe space
        self.preceding_data = ""
        self.current_tag = ""
        # structure state
        self.bq_level = 0
        self.list_stack: list[list] = []   # [kind, counter]
        self.last_was_list = False
        self.inside_pre = False
        self.inside_code = False
        self.tt_code = False           # kbd/tt backtick toggle
        self.quote_open = False        # <q> toggle
        # links
        self.inside_link = False
        self.link_stack: list[dict | None] = []
        self.auto_link: str | None = None   # href that may become <url>
        self.empty_link = False
        # abbreviations (<abbr title=..>) — flushed at document end
        self.abbr_title: str | None = None
        self.abbr_data: str | None = None
        self.abbr_list: dict[str, str] = {}

    # ---- low-level output ------------------------------------------------

    def _out(self, s: str) -> None:
        self.outlist.append(s)
        if s:
            self.last_was_nl = s[-1] == "\n"

    def _emit(self, data: str, *, collapse: bool = False,
              force: bool | str = False) -> None:
        """Emit text, materializing any pending break/space first."""
        if self.abbr_data is not None:
            self.abbr_data += data
        if self.quiet:
            return
        if collapse and not self.inside_pre:
            data = _WS.sub(" ", data)
            if data and data[0] == " ":
                self.pending_space = True
                data = data[1:]
        if not data and not force:
            return
        prefix = ">" * self.bq_level
        if self.bq_level and not (force and data and data[0] == ">"):
            prefix += " "
        if self.at_start:
            self.pending_space = False
            self.pending_breaks = 0
            self.at_start = False
        if force == "end":
            self.pending_breaks = 0
            self._out("\n")
            self.pending_space = False
        if self.pending_breaks:
            self._out((self.br_toggle + "\n" + prefix) * self.pending_breaks)
            self.pending_space = False
            self.br_toggle = ""
        if self.pending_space:
            if not self.last_was_nl:
                self._out(" ")
            self.pending_space = False
        if self.abbr_list and force == "end":
            for abbr, definition in self.abbr_list.items():
                self._out("  *[" + abbr + "]: " + definition + "\n")
        self.pending_breaks = 0
        self._out(data)

    def _break(self) -> None:                 # block separation (one line)
        self.pending_breaks = 1

    def _line(self) -> None:                  # minimum one line break
        if self.pending_breaks == 0:
            self.pending_breaks = 1

    def _soft_break(self) -> None:            # line break rendered as '  \n'
        self._line()
        self.br_toggle = "  "

    # ---- text ------------------------------------------------------------

    def handle_data(self, data: str) -> None:
        self._text(data, entity=False)

    def _text(self, data: str, *, entity: bool) -> None:
        if not data:
            return
        if self.inside_pre:                  # raw bytes inside fences
            self._emit(data)
            return
        if self.inside_code:                 # inline code: flatten newlines
            self._emit(data.replace("\n", " "))
            return
        if self.stressed:
            data = data.strip()
            self.stressed = False
            self.after_stress = True
        elif self.after_stress:
            if (_AFTER_STRESS.match(data[:1])
                    and not _header_level(self.current_tag)
                    and self.current_tag not in ("a", "code", "pre")):
                data = " " + data
            self.after_stress = False
        if self.auto_link is not None:
            href = self.auto_link
            if href == data and _ABS_URL.match(href):
                self._emit("<" + data + ">")
                self.empty_link = False
                return
            self._emit("[")
            self.auto_link = None
            self.empty_link = False
        if not self.tt_code and not entity and "\\" in data:
            data = _BACKSLASH.sub(r"\\\1", data)
        self.preceding_data = data
        self._emit(data, collapse=True)

    def handle_entityref(self, name: str) -> None:
        if name in _ENTITY_UNIFY:
            ref = _ENTITY_UNIFY[name]
        else:
            ref = html.entities.html5.get(name + ";", "&" + name + ";")
        if ref:
            self._text(ref, entity=True)

    def handle_charref(self, name: str) -> None:
        try:
            cp = int(name[1:], 16) if name[:1] in ("x", "X") else int(name)
        except ValueError:
            return
        if cp in _CHARREF_UNIFY:
            ref = _CHARREF_UNIFY[cp]
        else:
            try:
                ref = chr(cp)
            except ValueError:
                ref = ""
        if ref:
            self._text(ref, entity=True)

    # ---- tags ------------------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        self._tag(tag, dict(attrs), True)

    def handle_endtag(self, tag: str) -> None:
        self._tag(tag, {}, False)

    def _tag(self, tag: str, attrs: dict, start: bool) -> None:
        # fenced code: fully intercepted, never reaches the generic path
        if tag == "pre":
            if start:
                self._emit("```\n")
                self.inside_pre = True
            else:
                self._emit("\n```\n")
                self.inside_pre = False
            return
        if tag == "code":
            if self.inside_pre:
                return
            if not self.inside_link:
                self._emit("`")
            self.inside_code = start
            if not self.inside_link:
                return
            # inside a link the generic path ALSO runs (backtick + flags)

        self.current_tag = tag

        # first output-producing tag inside an anchor opens the bracket
        if (start and self.auto_link is not None
                and tag not in ("p", "div", "style", "dl", "dt")
                and tag != "img"):
            self._emit("[")
            self.auto_link = None
            self.empty_link = False

        lvl = _header_level(tag)
        if lvl:
            if self.link_stack:
                # header illegally nested in a link: '#' goes before the '['
                if start and self.outlist and self.outlist[-1] == "[":
                    self.outlist.pop()
                    self.pending_space = False
                    self._emit("#" * lvl + " ")
                    self._emit("[")
                if not start:
                    self.pending_breaks = 0  # don't split the link name
                    return
            else:
                self._break()
                if start:
                    self._emit("#" * lvl + " ")
                else:
                    return

        if tag in ("p", "div"):
            # no break inside a link name or between table cells
            if not self.link_stack and not self.split_next_td:
                self._break()

        if tag == "br" and start:
            self._emit("  \n> " if self.bq_level else "  \n")

        if tag == "hr" and start:
            self._break()
            self._emit("* * *")
            self._break()

        if tag in ("head", "style", "script"):
            self.quiet += 1 if start else -1
        if tag == "body":
            self.quiet = 0   # some pages never close <head>

        if tag == "blockquote":
            if start:
                self._break()
                self._emit("> ", force=True)
                self.at_start = True
                self.bq_level += 1
            else:
                self.bq_level -= 1
                self._break()

        if tag in ("em", "i", "u"):
            if (start and self.preceding_data
                    and self.preceding_data[-1] not in " \t\n\r\v\f"
                    and self.preceding_data[-1] not in
                    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"):
                self._emit(" _")
                self.preceding_data += " "
            else:
                self._emit("_")
            if start:
                self.stressed = True

        if tag in ("strong", "b"):
            if start and self.preceding_data and self.preceding_data[-1] == "*":
                self._emit(" **")
                self.preceding_data += " "
            else:
                self._emit("**")
            if start:
                self.stressed = True

        if tag in ("del", "strike", "s"):
            if start and self.preceding_data and self.preceding_data[-1] == "~":
                self._emit(" ~~")
                self.preceding_data += " "
            else:
                self._emit("~~")
            if start:
                self.stressed = True

        if tag in ("kbd", "tt", "code"):
            self._emit("`")
            self.tt_code = not self.tt_code

        if tag == "abbr":
            if start:
                self.abbr_title = attrs.get("title")
                self.abbr_data = ""
            else:
                if self.abbr_title is not None:
                    assert self.abbr_data is not None
                    self.abbr_list[self.abbr_data] = self.abbr_title
                    self.abbr_title = None
                self.abbr_data = None

        if tag == "q":
            self._emit('"')
            self.quote_open = not self.quote_open

        if tag == "a":
            self._a(attrs, start)

        if tag == "img" and start:
            self._img(attrs)

        if tag == "dl" and start:
            self._break()
            self.pending_breaks = 0
        elif tag == "dt" and start:
            if self.pending_breaks == 0:   # not the first term
                self._emit("\n\n")
            self.pending_breaks = 0
        elif tag == "dt" and not start:
            self._emit("\n")
        elif tag == "dd" and start:
            self._emit("    ")
        elif tag == "dd" and not start:
            self.pending_breaks = 0

        if tag in ("ol", "ul"):
            if not self.list_stack and not self.last_was_list:
                self._break()
            if start:
                try:
                    start_num = int(attrs.get("start") or 1) - 1
                except ValueError:
                    start_num = 0
                self.list_stack.append([tag, start_num])
            elif self.list_stack:
                self.list_stack.pop()
                if not self.list_stack:
                    self._emit("\n")
            self.last_was_list = True
        else:
            self.last_was_list = False

        if tag == "li":
            self._line()
            if start:
                li = self.list_stack[-1] if self.list_stack else ["ul", 0]
                # two spaces per level; three for a ul directly inside an ol
                parent = None
                for kind, _n in self.list_stack:
                    self._emit("   " if parent == "ol" and kind == "ul"
                               else "  ")
                    parent = kind
                if li[0] == "ol":
                    li[1] += 1
                    self._emit(f"{li[1]}. ")
                else:
                    self._emit("* ")
                self.at_start = True

        if tag in ("table", "tr", "td", "th"):
            if tag == "table" and start:
                self.table_header_pending = True
            if tag in ("td", "th") and start:
                if self.split_next_td:
                    self._emit("| ")
                self.split_next_td = True
            if tag == "tr" and start:
                self.td_count = 0
            if tag == "tr" and not start:
                self.split_next_td = False
                self._soft_break()
                if getattr(self, "table_header_pending", False):
                    self._emit("|".join(["---"] * self.td_count))
                    self._soft_break()
                    self.table_header_pending = False
            if tag in ("td", "th") and start:
                self.td_count = getattr(self, "td_count", 0) + 1

    # split_next_td/td_count defaults (first table may open with <td>)
    split_next_td = False
    td_count = 0
    table_header_pending = False

    # ---- links -----------------------------------------------------------

    def _a(self, attrs: dict, start: bool) -> None:
        if start:
            self.inside_link = True
            href = attrs.get("href")
            if href is not None and not href.startswith("mailto:"):
                self.link_stack.append(attrs)
                self.auto_link = href
                self.empty_link = True
            else:
                self.link_stack.append(None)
            return
        self.inside_link = False
        if not self.link_stack:
            return
        a = self.link_stack.pop()
        if self.auto_link and not self.empty_link:
            self.auto_link = None     # autolink already emitted as <url>
        elif a is not None:
            if self.empty_link:
                self._emit("[")
                self.empty_link = False
                self.auto_link = None
            url = urljoin(self.baseurl, a.get("href") or "")
            title = a.get("title") or ""
            self.pending_breaks = 0
            t = f' "{_escape_md(title)}"' if title.strip() else ""
            self._emit(f"]({_escape_md(url)}{t})")

    def _img(self, attrs: dict) -> None:
        src = attrs.get("src")
        if src is None:
            return
        alt = attrs.get("alt") or ""
        if self.auto_link is not None:
            self._emit("[")
            self.auto_link = None
            self.empty_link = False
        self._emit("![" + _escape_md(alt) + "]")
        self._emit("(" + _escape_md(urljoin(self.baseurl, src)) + ")")

    # ---- document --------------------------------------------------------

    def convert(self, html_s: str) -> str:
        self.feed(html_s)
        self.feed("")
        self.close()
        return self._finish()

    def convert_node(self, node: Node) -> str:
        """Drive the same event machine straight off a DOM tree — skips the
        serialize+retokenize round-trip for the in-pipeline (scrap -> md)
        path. Equivalent to convert(node.to_html()) up to entity-chunk
        boundaries (the DOM has entities already resolved, matching the
        reference's real lxml-parsed pipeline rather than its raw-string
        fixture path)."""
        if node.tag == "#root":
            self._walk(node)
        else:
            self._tag(node.tag, node.attrs, True)
            if node.tag not in VOID_TAGS:
                self._walk(node)
                self._tag(node.tag, {}, False)
        return self._finish()

    def _walk(self, node: Node) -> None:
        for c in node.children:
            cls = c.__class__
            if cls is str:
                self._text(c, entity=False)
            elif cls is Node:
                self._tag(c.tag, c.attrs, True)
                if c.tag not in VOID_TAGS:
                    self._walk(c)
                    self._tag(c.tag, {}, False)

    def _finish(self) -> str:
        self._line()
        self._emit("", force="end")
        out = "".join(self.outlist).replace(_NBSP_PH, " ")
        # the generator's fence-dedent post-step (reference mgs.py:214)
        return out.replace("    ```", "```")


def html_to_markdown(html: str | Node, *,
                     base_url: str = "") -> tuple[str, list]:
    """(raw_markdown, []) — the second element is kept for signature
    stability; citations are a post-pass (convert_links_to_citations)."""
    conv = _Converter(baseurl=base_url)
    if isinstance(html, Node):
        return conv.convert_node(html), []
    return conv.convert(html), []


# inline/image markdown links: [text](url "title") — text non-empty
_MD_LINK = re.compile(r'!?\[([^\]]+)\]\(([^)]+?)(?:\s+"([^"]*)")?\)')


def convert_links_to_citations(markdown: str,
                               base_url: str = "") -> tuple[str, str]:
    """Citations as a single regex pass over the RAW markdown, matching the
    reference's converter byte-for-byte
    (markdown_generation_strategy.py:82-146): every link/image becomes
    ``text⟨n⟩`` / ``![text⟨n⟩]`` with n assigned per unique url in order
    of first appearance; returns (cited_markdown, references_markdown)."""
    refs: dict[str, tuple[int, str]] = {}

    def number_for(url: str, text: str, title: str | None) -> int:
        if url not in refs:
            desc = [p for p in (title, text if text != title else "")
                    if p]
            refs[url] = (len(refs) + 1,
                         ": " + " - ".join(desc) if desc else "")
        return refs[url][0]

    def replace(m: re.Match) -> str:
        text, url, title = m.groups()
        if base_url and not url.startswith(("http://", "https://",
                                            "mailto:")):
            url = urljoin(base_url, url)
        n = number_for(url, text, title)
        return (f"![{text}⟨{n}⟩]" if m.group(0).startswith("!")
                else f"{text}⟨{n}⟩")

    cited = _MD_LINK.sub(replace, markdown)
    lines = ["\n\n## References\n\n"]
    lines += [f"⟨{n}⟩ {url}{desc}\n"
              for url, (n, desc) in sorted(refs.items(),
                                           key=lambda kv: kv[1][0])]
    return cited, "".join(lines)


def generate_markdown(html: str | Node, fit_html: str | None = None,
                      base_url: str = "") -> MarkdownResult:
    """Full markdown bundle for one page's cleaned HTML: ONE conversion
    pass, then the citation regex post-pass (reference pipeline shape)."""
    raw, _ = html_to_markdown(html, base_url=base_url)
    cited, references = convert_links_to_citations(raw, base_url)
    res = MarkdownResult(
        raw_markdown=raw,
        markdown_with_citations=cited,
        references_markdown=references,
    )
    if fit_html is not None:
        res.fit_html = fit_html
        res.fit_markdown, _ = html_to_markdown(fit_html)
    return res
