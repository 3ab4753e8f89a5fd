"""Serializer options: in-repo cases written from the WHATWG HTML
standard's serialization algorithm and boolean-attribute rules (run
everywhere), then parity with the reference's bundled
provideCustomSerializations cases (TestSerializer.php, read in place
when the reference checkout is present) — boolean attribute values,
foreign void end tags, and the whitespace-reformatting pretty-printer.
"""

from __future__ import annotations

import os
import re

import pytest

from html_parser_spark.engine import parse, parse_fragment
from html_parser_spark.engine import serializer_options as so

_REF = "/root/reference/tests/cases/TestSerializer.php"

_CASE_RE = re.compile(
    r"\[(true|false),\s*(null|'[^']*'),\s*(\d+),\s*(true|false),\s*"
    r"(true|false),\s*(true|false),\s*(true|false),\s*(true|false),\s*"
    r"<<<HTML\n(.*?)\n\s*HTML,\s*<<<HTML\n(.*?)\n\s*HTML\n?\s*\]",
    re.S)


def _heredoc(body: str) -> str:
    lines = body.split("\n")
    nonempty = [ln for ln in lines if ln.strip()]
    ind = min(len(ln) - len(ln.lstrip(" ")) for ln in nonempty)
    text = "\n".join(ln[ind:] if ln.strip() else "" for ln in lines)
    # PHP heredocs process escapes
    return (text.replace("\\t", "\t").replace("\\n", "\n")
            .replace("\\$", "$").replace("\\\\", "\\"))


def _load_cases():
    if not os.path.isfile(_REF):
        return []
    src = open(_REF).read()
    start = src.index("public function provideCustomSerializations")
    end = src.index("/** @dataProvider provideCustomSerializationsForNodes")
    out = []
    for i, m in enumerate(_CASE_RE.finditer(src[start:end])):
        frag, ctx, step, spaces, pi, reformat, boolattr, fvoid, inp, exp = \
            m.groups()
        out.append((
            f"case{i}",
            frag == "true",
            None if ctx == "null" else ctx.strip("'"),
            int(step),
            spaces == "true",
            pi == "true",
            reformat == "true",
            boolattr == "true",
            fvoid == "true",
            _heredoc(inp),
            _heredoc(exp)))
    return out


_CASES = _load_cases()
assert not _CASES or len(_CASES) >= 16  # the bundled provider


@pytest.mark.skipif(not os.path.isfile(_REF),
                    reason="reference checkout not present")
@pytest.mark.parametrize(
    "cid,frag,ctx,step,spaces,pi,reformat,boolattr,fvoid,inp,exp",
    _CASES, ids=[c[0] for c in _CASES])
def test_reference_serializer_options(cid, frag, ctx, step, spaces, pi,
                                      reformat, boolattr, fvoid, inp, exp):
    opts = dict(boolean_attribute_values=boolattr,
                foreign_void_end_tags=fvoid,
                reformat_whitespace=reformat,
                indent_step=step,
                indent_with_spaces=spaces)
    if frag:
        node = parse_fragment(inp, ctx, pi=pi)
    else:
        node = parse(inp, pi=pi).document
    assert so.serialize(node, **opts) == exp


def test_defaults_match_plain_serializer():
    """With default options the configurable path must be
    byte-identical to the hot-path serializer."""
    from html_parser_spark.engine import serialize as fast
    for html in (
        "<!DOCTYPE html><p class='x'>a<b>b</b></p><table><td>1</table>",
        "<svg><circle/></svg><math><mi>m</mi></math>",
        "<template><p>t</p></template><script>a<b</script>",
        "<pre>\n keep\n</pre><input disabled>",
    ):
        doc = parse(html).document
        assert so.serialize(doc) == fast(doc)


def test_unknown_option_rejected():
    with pytest.raises(ValueError):
        so.serialize(parse("x").document, bogus=True)


# In-repo cases. The expected strings are ours, written from the
# standard: "Serializing HTML fragments" (escaping, void elements, raw
# text, template contents) and the boolean-attribute rule (an
# attribute's value is the empty string or an ASCII case-insensitive
# match for its name). Each is (body fragment, options, expected).
NBSP = "\u00a0"
SPEC_CASES = [
    # defaults are the standard's algorithm: every attribute keeps its
    # value, & < > NBSP escape in text, & " NBSP in attribute values,
    # raw text is emitted as is, template contents serialize inline
    ("escaping",
     f'<p title="a&amp;b&quot;c{NBSP}">a &amp; b &lt; c &gt; d{NBSP}e</p>',
     {}, '<p title="a&amp;b&quot;c&nbsp;">a &amp; b &lt; c &gt; '
         'd&nbsp;e</p>'),
    ("raw-text-and-template",
     "<script>if (a<b && c>d) {}</script><template><p>t</p></template>",
     {}, "<script>if (a<b && c>d) {}</script>"
         "<template><p>t</p></template>"),
    ("boolean-default-keeps-values",
     '<input disabled><input checked="CHECKED"><option selected>o',
     {}, '<input disabled=""><input checked="CHECKED">'
         '<option selected="">o</option>'),
    # boolean_attribute_values=False: a valid boolean value (empty or
    # the name, any case) on an element the attribute is boolean for
    # prints as the bare name
    ("boolean-bare-names",
     '<input disabled><input checked="CHECKED"><p hidden="">x</p>'
     '<video autoplay="Autoplay" controls=controls></video>',
     {"boolean_attribute_values": False},
     '<input disabled><input checked><p hidden>x</p>'
     '<video autoplay controls></video>'),
    ("boolean-invalid-value-kept",
     '<input checked="yes"><video muted="no"></video>',
     {"boolean_attribute_values": False},
     '<input checked="yes"><video muted="no"></video>'),
    ("boolean-wrong-element-kept",
     '<div disabled="">d</div><option selected value="x">o</option>',
     {"boolean_attribute_values": False},
     '<div disabled="">d</div><option selected value="x">o</option>'),
    ("boolean-foreign-kept",
     '<svg><rect hidden=""></rect></svg>',
     {"boolean_attribute_values": False},
     '<svg><rect hidden=""></rect></svg>'),
    # foreign elements: the standard prints an end tag for every
    # non-void element; foreign_void_end_tags=False self-closes the
    # childless foreign ones only
    ("foreign-end-tags-default",
     '<svg><path d="M0"/><g><rect/></g></svg><math><mi/></math>',
     {}, '<svg><path d="M0"></path><g><rect></rect></g></svg>'
         '<math><mi></mi></math>'),
    ("foreign-self-closing",
     '<svg><path d="M0"/><g><rect/></g></svg><math><mi/><mn>1</mn></math>'
     '<br><p></p>',
     {"foreign_void_end_tags": False},
     '<svg><path d="M0"/><g><rect/></g></svg><math><mi/><mn>1</mn></math>'
     '<br><p></p>'),
]


@pytest.mark.parametrize("cid,html,opts,expected", SPEC_CASES,
                         ids=[c[0] for c in SPEC_CASES])
def test_spec_serializer_options(cid, html, opts, expected):
    assert so.serialize(parse_fragment(html, "body"), **opts) == expected
    body = parse("<body>" + html).document.children[0].children[1]
    assert so.serialize_inner(body, **opts) == expected


# The pretty-printer. Whitespace between block-level elements is not
# rendered, so it may be re-laid out: one element per line, indented
# by depth, a blank line between runs of unlike block siblings (h1-h6
# alike), runs of whitespace in inline text collapsed to one space, and
# preformatted content (pre, textarea, script, ...) left untouched.
PRETTY_DOC = ("<!DOCTYPE html><html><head><title>T</title></head><body>"
              "<div><p>  a   b  </p><ul><li>x</li><li>y</li></ul></div>"
              "<h1>A</h1><h2>B</h2><!--n--><pre>\n  a\n   b</pre>"
              "<p>x <b> y </b> z</p></body></html>")
PRETTY_CASES = [
    ("spaces-step-1", PRETTY_DOC, {},
     "<!DOCTYPE html>\n<html>\n <head>\n  <title>T</title>\n </head>\n\n"
     " <body>\n  <div>\n   <p>a b</p>\n\n   <ul>\n    <li>x</li>\n"
     "    <li>y</li>\n   </ul>\n  </div>\n\n  <h1>A</h1>\n  <h2>B</h2>\n\n"
     "  <!--n-->\n\n  <pre>  a\n   b</pre>\n\n  <p>x <b>y </b>z</p>\n"
     " </body>\n</html>"),
    ("tabs-step-2", PRETTY_DOC, {"indent_step": 2, "indent_with_spaces": False},
     "<!DOCTYPE html>\n<html>\n\t\t<head>\n\t\t\t\t<title>T</title>\n"
     "\t\t</head>\n\n\t\t<body>\n\t\t\t\t<div>\n\t\t\t\t\t\t<p>a b</p>"
     "\n\n\t\t\t\t\t\t<ul>\n\t\t\t\t\t\t\t\t<li>x</li>\n"
     "\t\t\t\t\t\t\t\t<li>y</li>\n\t\t\t\t\t\t</ul>\n\t\t\t\t</div>"
     "\n\n\t\t\t\t<h1>A</h1>\n\t\t\t\t<h2>B</h2>\n\n\t\t\t\t<!--n-->"
     "\n\n\t\t\t\t<pre>  a\n   b</pre>\n\n\t\t\t\t<p>x <b>y </b>z</p>"
     "\n\t\t</body>\n</html>"),
    ("no-grouping", PRETTY_DOC.replace("<!--n-->", ""),
     {"group_elements": False},
     "<!DOCTYPE html>\n<html>\n <head>\n  <title>T</title>\n </head>\n"
     " <body>\n  <div>\n   <p>a b</p>\n   <ul>\n    <li>x</li>\n"
     "    <li>y</li>\n   </ul>\n  </div>\n  <h1>A</h1>\n  <h2>B</h2>\n"
     "  <pre>  a\n   b</pre>\n  <p>x <b>y </b>z</p>\n"
     " </body>\n</html>"),
]


@pytest.mark.parametrize("cid,html,opts,expected", PRETTY_CASES,
                         ids=[c[0] for c in PRETTY_CASES])
def test_spec_pretty_printer(cid, html, opts, expected):
    doc = parse(html).document
    assert so.serialize(doc, reformat_whitespace=True, **opts) == expected


def test_pretty_printer_is_stable():
    """Re-parsing the pretty-printed document and printing it again
    gives the same text: the layout whitespace it adds is exactly the
    kind it removes."""
    once = so.serialize(parse(PRETTY_DOC).document,
                        reformat_whitespace=True)
    assert so.serialize(parse(once).document,
                        reformat_whitespace=True) == once


def _find(node, name):
    """First element named `name` in tree order (any namespace)."""
    from html_parser_spark.engine.dom import Element
    stack = [node]
    while stack:
        n = stack.pop(0)
        if isinstance(n, Element):
            if n.name == name:
                return n
            stack = list(n.children) + stack
        elif hasattr(n, "children"):
            stack = list(n.children) + stack
    return None


class TestSoloNodeSerialization:
    """Mirrors the reference's provideCustomSerializationsForNodes
    (TestSerializer.php:478-629): single extracted/detached nodes with
    the pretty-printer on."""

    OPTS = dict(reformat_whitespace=True, indent_step=1,
                indent_with_spaces=True, boolean_attribute_values=False)

    def test_solo_p_attached_and_detached(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n  <p> Ook! </p>"
                    "\n </body>\n</html>").document
        p = _find(doc, "p")
        assert so.serialize(p, **self.OPTS) == "<p>Ook!</p>"
        p.parent.remove(p)
        assert so.serialize(p, **self.OPTS) == "<p>Ook!</p>"

    SVG_DOC = ("<!DOCTYPE html><html>\n <body>\n"
               '  <svg role="img" viewBox="0 0 26 26"><title>Ook</title>\n'
               '      <rect id="eek--a" width="5" height="5"/></svg>\n'
               " </body>\n</html>")

    def test_solo_svg_inline_with_context(self):
        doc = parse(self.SVG_DOC).document
        svg = _find(doc, "svg")
        assert so.serialize(svg, **self.OPTS) == (
            '<svg role="img" viewBox="0 0 26 26"><title>Ook</title> '
            '<rect id="eek--a" width="5" height="5"></rect></svg>')

    def test_solo_svg_detached_is_block(self):
        doc = parse(self.SVG_DOC).document
        svg = _find(doc, "svg")
        svg.parent.remove(svg)
        assert so.serialize(svg, **self.OPTS) == (
            '<svg role="img" viewBox="0 0 26 26">\n'
            " <title>Ook</title>\n\n"
            ' <rect id="eek--a" width="5" height="5"></rect>\n'
            "</svg>")

    def test_solo_inner_g_block_context(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n"
                    '  <svg><g><g><rect id="eek--a" width="5" height="5"/>'
                    "</g></g></svg>\n  <div></div>\n </body>\n</html>"
                    ).document
        outer_g = _find(doc, "g")
        inner_g = outer_g.children[0]
        opts = dict(self.OPTS, foreign_void_end_tags=False)
        assert so.serialize(inner_g, **opts) == (
            '<g>\n <rect id="eek--a" width="5" height="5"/>\n</g>')

    def test_solo_detached_text(self):
        doc = parse("<!DOCTYPE html><html>\n <body>\n"
                    "  OOK eeek ooooooook     ook\n\n </body>\n</html>"
                    ).document
        body = _find(doc, "body")
        from html_parser_spark.engine.dom import Text
        text = next(c for c in body.children if isinstance(c, Text))
        body.remove(text)
        assert so.serialize(text, **self.OPTS) == "OOK eeek ooooooook ook"
