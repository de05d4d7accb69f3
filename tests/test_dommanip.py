"""DomUtils manipulation helpers over the relational nodes table
(operators/dommanip.py): mutate -> serialize -> reparse roundtrips.

Reference surface: appendChild / prependChild / append / prepend /
replaceElement (/root/reference/README.md:166-218, src/index.ts:86).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from htmlparser2_spark.operators.dommanip import (
    append,
    append_child,
    prepend,
    prepend_child,
    replace_element,
    serialize_nodes,
)
from htmlparser2_spark.operators.domquery import (
    explode_nodes,
    remove_elements,
)

HTML = (
    '<html><body><h1>T</h1><p>one</p><style>x { }</style>'
    '<a href="u">link</a></body></html>'
)

EXPECTED = (
    '<html><body>HDR|<h1>T</h1><hr><p>one</p><nostyle></nostyle>'
    '[PRE]<a href="u">link</a><footer role="end"></footer></body></html>'
)


def _pages(spark, html=HTML, url="u1"):
    return spark.createDataFrame(
        [(url, bytearray(html.encode()))], "url string, html binary"
    )


def _mutate(nodes):
    nodes = replace_element(
        nodes, lambda n: F.col("name") == "style",
        {"type": "tag", "name": "nostyle"},
    )
    nodes = prepend_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "text", "data": "HDR|"},
    )
    nodes = append_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "tag", "name": "footer", "attrs": {"role": "end"}},
    )
    nodes = append(
        nodes, lambda n: F.col("name") == "h1", {"type": "tag", "name": "hr"}
    )
    nodes = prepend(
        nodes, lambda n: F.col("name") == "a",
        {"type": "text", "data": "[PRE]"},
    )
    return nodes


@pytest.mark.spark
def test_manip_serialize_roundtrip(spark):
    nodes = _mutate(explode_nodes(_pages(spark), with_ancestors=True))
    out = serialize_nodes(nodes).collect()
    assert len(out) == 1
    assert out[0]["manip_html"] == EXPECTED


@pytest.mark.spark
def test_manip_reparse_fixed_point(spark):
    """Serialized mutated markup reparses to a DOM that serializes
    identically (the serializer contract is a fixed point)."""
    nodes = _mutate(explode_nodes(_pages(spark), with_ancestors=True))
    rendered = serialize_nodes(nodes).collect()[0]["manip_html"]
    pages2 = _pages(spark, html=rendered)
    again = serialize_nodes(explode_nodes(pages2)).collect()[0]["manip_html"]
    assert again == rendered == EXPECTED


@pytest.mark.spark
def test_insert_orders_and_ancestors(spark):
    """prepend_child shifts existing children right; inserted rows carry
    correct ancestors when the axis column is present."""
    nodes = explode_nodes(_pages(spark), with_ancestors=True)
    body_id = (
        nodes.filter(F.col("name") == "body").collect()[0]["node_id"]
    )
    nodes = prepend_child(
        nodes, lambda n: F.col("name") == "body",
        {"type": "text", "data": "X"},
    )
    rows = {r["node_id"]: r for r in nodes.collect()}
    inserted = [
        r for r in rows.values() if r["type"] == "text" and r["data"] == "X"
    ]
    assert len(inserted) == 1
    ins = inserted[0]
    assert ins["parent_id"] == body_id
    assert ins["idx_in_parent"] == 0
    assert list(ins["ancestors"])[-1] == body_id
    h1 = next(r for r in rows.values() if r["name"] == "h1")
    assert h1["idx_in_parent"] == 1  # shifted right


@pytest.mark.spark
def test_mutation_fuzz_invariants(spark):
    """Seeded random op chains over random safe trees: after any chain,
    (a) idx_in_parent is dense 0..k-1 per parent, (b) every parent_id
    exists (or is -1), (c) node_ids are unique, (d) ``ancestors`` is
    the root-first parent_id chain, and (e) the mutated table
    serializes -> reparses to the same element-name multiset and
    textContent."""
    import random

    from htmlparser2_spark.engine.dom import parse_document, text_content

    tags = ["p", "div", "span", "li", "em", "b"]
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        docs = []
        for d in range(6):
            parts = []
            for _ in range(rng.randint(1, 5)):
                t = rng.choice(tags)
                parts.append(f"<{t}>w{rng.randint(0, 9)} </{t}>")
            docs.append((f"u{d}", "<html><body>"
                         + "".join(parts) + "</body></html>"))
        pages = spark.createDataFrame(docs, "url string, html string")
        nodes = explode_nodes(pages, with_ancestors=True)
        ops = [
            lambda n: append_child(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "text", "data": "A "},
            ),
            lambda n: prepend_child(
                n, lambda x: F.col("name") == "body",
                {"type": "tag", "name": "nav"},
            ),
            lambda n: append(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "tag", "name": "hr"},
            ),
            lambda n: prepend(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "text", "data": "B "},
            ),
            lambda n: replace_element(
                n, lambda x: F.col("name") == rng.choice(tags),
                {"type": "tag", "name": "section"},
            ),
        ]
        rng.shuffle(ops)
        for op in ops[: rng.randint(2, 4)]:
            nodes = op(nodes)
        rows = nodes.collect()
        by_url: dict[str, list] = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r)
        for url, rs in by_url.items():
            ids = [r["node_id"] for r in rs]
            assert len(ids) == len(set(ids)), f"{url}: duplicate node_ids"
            id_set = set(ids)
            by_id = {r["node_id"]: r for r in rs}
            for r in rs:
                chain = []
                pid = r["parent_id"]
                while pid != -1:
                    chain.append(pid)
                    pid = by_id[pid]["parent_id"]
                assert list(r["ancestors"]) == chain[::-1], (
                    f"{url} node {r['node_id']}: stale ancestors"
                )
            kids: dict[int, list[int]] = {}
            for r in rs:
                assert r["parent_id"] == -1 or r["parent_id"] in id_set
                kids.setdefault(r["parent_id"], []).append(
                    r["idx_in_parent"]
                )
            for pid, idxs in kids.items():
                assert sorted(idxs) == list(range(len(idxs))), (
                    f"{url} parent {pid}: non-dense idx {sorted(idxs)}"
                )
        rendered = {
            r["url"]: r["manip_html"]
            for r in serialize_nodes(nodes).collect()
        }
        for url, rs in by_url.items():
            reparsed = parse_document(rendered[url])
            assert sorted(
                n["name"] for n in reparsed if n["name"] is not None
            ) == sorted(r["name"] for r in rs if r["name"] is not None)
            # textContent of the mutated adjacency == reparsed text.
            expected = "".join(
                p[1]["data"]
                for p in sorted(
                    (
                        (_doc_order_key(r, rs), r)
                        for r in rs
                        if r["type"] == "text"
                    ),
                    key=lambda p: p[0],
                )
            )
            assert text_content(reparsed) == expected


def _doc_order_key(row, rows):
    """Depth-first document-order key from (parent_id, idx_in_parent)
    chains — node_id order is NOT document order after mutation."""
    by_id = {r["node_id"]: r for r in rows}
    key = []
    cur = row
    while cur is not None:
        key.append(cur["idx_in_parent"])
        cur = by_id.get(cur["parent_id"])
    return tuple(reversed(key))


@pytest.mark.spark
def test_replace_drops_subtree(spark):
    html = "<html><body><div><p>inner<b>deep</b></p></div><p>keep</p></body></html>"
    nodes = explode_nodes(_pages(spark, html=html), with_ancestors=True)
    out = replace_element(
        nodes, lambda n: F.col("name") == "div",
        {"type": "tag", "name": "section"},
    )
    rendered = serialize_nodes(out).collect()[0]["manip_html"]
    assert rendered == (
        "<html><body><section></section><p>keep</p></body></html>"
    )


@pytest.mark.spark
def test_replace_nested_match_drops_inner(spark):
    """A matched element nested inside another match belongs to the
    outer match's dropped subtree — only the TOP-LEVEL match is
    replaced (domutils replaces the outer pointer; the detached
    element keeps its children, inner match included)."""
    html = "<html><body><ul><li>x</li></ul><p>keep</p></body></html>"
    nodes = explode_nodes(_pages(spark, html=html), with_ancestors=True)
    out = replace_element(
        nodes, lambda n: F.col("name").isin("ul", "li"),
        {"type": "tag", "name": "gone"},
    )
    rendered = serialize_nodes(out).collect()[0]["manip_html"]
    assert rendered == "<html><body><gone></gone><p>keep</p></body></html>"


def _chain(depth: int) -> str:
    return (
        "<html><body>" + "<div>" * depth + "x" + "</div>" * depth
        + "</body></html>"
    )


@pytest.mark.spark
@pytest.mark.parametrize("depth", [25, 500])
def test_replace_and_remove_deep_chains(spark, depth):
    """Subtree removal has no depth cap: a nested <div> chain far deeper
    than real pages goes in one pass for both operators."""
    nodes = explode_nodes(
        _pages(spark, html=_chain(depth)), with_ancestors=True
    )
    body = lambda n: F.col("name") == "body"  # noqa: E731
    replaced = replace_element(nodes, body, {"type": "tag", "name": "main"})
    assert serialize_nodes(replaced).collect()[0]["manip_html"] == (
        "<html><main></main></html>"
    )
    removed = remove_elements(nodes, lambda n: F.col("name") == "div")
    assert serialize_nodes(removed).collect()[0]["manip_html"] == (
        "<html><body></body></html>"
    )
    assert remove_elements(nodes, body).count() == 1  # <html> alone


@pytest.mark.spark
def test_subtree_ops_submit_no_job(spark):
    """replace_element and remove_elements only build a plan: the call
    itself runs no Spark job (the job group sees jobs only once the
    result is collected)."""
    sc = spark.sparkContext
    nodes = explode_nodes(_pages(spark, html=_chain(30)), with_ancestors=True)
    group = "subtree-ops-lazy"
    sc.setJobGroup(group, "laziness check")
    try:
        out = replace_element(
            nodes, lambda n: F.col("name") == "div",
            {"type": "tag", "name": "main"},
        )
        out = remove_elements(out, lambda n: F.col("name") == "main")
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert out.count() == 2  # <html><body>
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.spark
def test_remove_elements_drops_subtrees(spark):
    """removeElement: the match and everything under it go, a match
    nested in another match goes with the outer one, and documents
    without a match keep every row."""
    pages = spark.createDataFrame(
        [
            ("u1", "<html><body><div><p>in<b>deep</b></p></div>"
                   "<p>keep</p></body></html>"),
            ("u2", "<html><body><ul><li>x</li></ul><p>keep</p>"
                   "</body></html>"),
            ("u3", "<html><body><p>other</p></body></html>"),
        ],
        "url string, html string",
    )
    nodes = explode_nodes(pages, with_ancestors=True)
    out = remove_elements(
        nodes, lambda n: F.col("name").isin("div", "ul", "li")
    )
    got = {
        r["url"]: r["manip_html"] for r in serialize_nodes(out).collect()
    }
    assert got == {
        "u1": "<html><body><p>keep</p></body></html>",
        "u2": "<html><body><p>keep</p></body></html>",
        "u3": "<html><body><p>other</p></body></html>",
    }
    assert out.filter(F.col("url") == "u3").count() == (
        nodes.filter(F.col("url") == "u3").count()
    )


def test_subtree_ops_require_ancestors():
    from htmlparser2_spark.operators import domquery

    class _Fake:
        columns = ["url", "node_id", "parent_id"]

    calls = [
        lambda: replace_element(_Fake(), None, {}),
        lambda: remove_elements(_Fake(), None),
        lambda: domquery.elements_inside(_Fake(), "ul", "li"),
        lambda: domquery.anchor_texts(_Fake()),
        lambda: domquery.remove_subsets(_Fake()),
        lambda: domquery.compare_document_position(_Fake(), _Fake()),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="with_ancestors"):
            call()
