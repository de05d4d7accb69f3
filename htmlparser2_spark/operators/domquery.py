"""DomUtils-equivalent queries over the exploded ``nodes`` table.

The reference re-exports domutils tree queries (getElementById,
getElementsByTagName, findAll, textContent, getOuterHTML —
/root/reference/src/index.ts:86, README.md:166-218). On Spark, the DOM
adjacency arrays explode into a relational ``nodes`` table
``(url, node_id, parent_id, idx_in_parent, type, name, attrs,
attr_quotes, data, start_index, end_index)`` and every DomUtils query
becomes a DataFrame expression — filterable, joinable, and pushdown-
friendly at 100TB (name/type predicates reach the parquet scan when the
nodes table is materialized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.udfs import _parse_udf, dom_nodes_udf

__all__ = [
    "explode_nodes",
    "get_elements_by_tag_name",
    "get_elements_by_tag_type",
    "get_element_by_id",
    "find_all",
    "find_one",
    "find_one_child",
    "exists_one",
    "has_attrib",
    "test_element",
    "get_elements",
    "children_of",
    "siblings_of",
    "element_siblings",
    "elements_inside",
    "anchor_texts",
    "get_attribute_value",
    "text_content_per_doc",
    "outer_html",
    "inner_html",
    "remove_elements",
    "unique_sort",
    "remove_subsets",
    "compare_document_position",
    "position_mask",
    "DocumentPosition",
]


def explode_nodes(pages: DataFrame, html_col: str = "html", key_col: str = "url",
                  **parser_options) -> DataFrame:
    """pages -> relational nodes table (one row per DOM node).

    Contract: a document whose html is NULL or parses to zero nodes
    has NO rows here — per-document consumers that must see every url
    (e.g. exists-style checks, empty-document textContent "") should
    left-join their result back to the pages table."""
    return pages.select(
        key_col, F.explode(dom_nodes_udf(**parser_options)(F.col(html_col))).alias("node")
    ).select(key_col, "node.*")


def get_elements_by_tag_name(nodes: DataFrame, name: str, *, limit: int | None = None) -> DataFrame:
    """Matching elements; ``limit`` is per document in document order
    (reference getElementsByTagName limit applies per tree), so
    limit=0 returns no rows and limit=1 returns each document's first
    match."""
    out = nodes.filter(F.col("name") == name)
    if limit is None:
        return out
    w = Window.partitionBy("url").orderBy("node_id")
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= limit)
        .drop("__rn")
    )


def get_elements_by_tag_type(nodes: DataFrame, node_type: str) -> DataFrame:
    """getElementsByTagType-equivalent (reference surface:
    /root/reference/README.md:166-218): all nodes of one domelementtype
    (``tag``/``script``/``style``/``text``/``comment``/``cdata``/
    ``directive``). A plain pushdown-friendly filter on the nodes table."""
    return nodes.filter(F.col("type") == node_type)


def get_element_by_id(nodes: DataFrame, element_id: str) -> DataFrame:
    """First element with the id per document (ids should be unique; ties
    break on document order like domutils' depth-first search)."""
    hits = nodes.filter(F.col("attrs")["id"] == element_id)
    w = Window.partitionBy("url").orderBy("node_id")
    return hits.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")


def find_all(nodes: DataFrame, predicate) -> DataFrame:
    """findAll with an arbitrary Column predicate over node fields."""
    return nodes.filter(predicate(nodes))


def find_one(nodes: DataFrame, predicate) -> DataFrame:
    """findOne-equivalent: first (document-order) match per url.

    domutils' findOne is a depth-first search returning the first hit;
    node_id is assigned in depth-first emission order, so min(node_id)
    over matches is the same element (reference re-export:
    /root/reference/src/index.ts:86).
    """
    w = Window.partitionBy("url").orderBy("node_id")
    return (
        nodes.filter(predicate(nodes))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


def exists_one(nodes: DataFrame, predicate) -> DataFrame:
    """existsOne-equivalent: per-url boolean ``(url, exists)``."""
    return nodes.groupBy("url").agg(
        F.max(F.when(predicate(nodes), True).otherwise(False)).alias("exists")
    )


def children_of(nodes: DataFrame, predicate) -> DataFrame:
    """getChildren-equivalent: child rows of every node matching
    ``predicate``, tagged with ``of_node_id``. One equi-join on
    (url, parent_id) — broadcastable when the matched set is small."""
    parents = nodes.filter(predicate(nodes)).select(
        F.col("url").alias("p_url"), F.col("node_id").alias("of_node_id")
    )
    return nodes.join(
        parents,
        (nodes.url == parents.p_url) & (nodes.parent_id == parents.of_node_id),
    ).drop("p_url")


def siblings_of(nodes: DataFrame, predicate) -> DataFrame:
    """getSiblings-equivalent: all rows sharing (url, parent) with a
    match — including the matched element itself, as domutils does."""
    anchors = nodes.filter(predicate(nodes)).select(
        F.col("url").alias("s_url"), F.col("parent_id").alias("s_parent")
    ).distinct()
    return nodes.join(
        anchors,
        (nodes.url == anchors.s_url) & (nodes.parent_id == anchors.s_parent),
    ).drop("s_url", "s_parent")


def element_siblings(nodes: DataFrame) -> DataFrame:
    """nextElementSibling / prevElementSibling for every element node.

    One window pass per (url, parent): lag/lead of name over element
    rows ordered by idx_in_parent. NULL at the ends, like domutils.
    Element-ness follows domutils ``isTag``: script and style carry
    their own node types (domelementtype) but are still elements.
    """
    w = Window.partitionBy("url", "parent_id").orderBy("idx_in_parent")
    tags = nodes.filter(F.col("type").isin("tag", "script", "style"))
    return tags.withColumns(
        {
            "prev_element": F.lag("name").over(w),
            "next_element": F.lead("name").over(w),
        }
    )


def elements_inside(
    nodes: DataFrame, outer_name: str, inner_name: str,
    key_col: str = "url",
) -> DataFrame:
    """Descendant axis: inner elements having an ancestor element named
    ``outer_name`` at any depth (CSS ``outer inner``), with the
    matching ancestor's node_id as ``ancestor_id``.

    Requires a nodes table built with ``with_ancestors=True``
    (explode_nodes forwards it): the ancestor test is then an in-row
    array membership after a within-document equi-join on ``key_col``
    — no per-document transitive closure, no recursive join. An inner
    element nested under k matching ancestors yields k rows
    (``.drop_duplicates(subset=[key_col, "node_id"])`` for
    element-distinct semantics).
    """
    inner = nodes.filter(F.col("name") == inner_name)
    outer = nodes.filter(F.col("name") == outer_name).select(
        key_col, F.col("node_id").alias("ancestor_id")
    )
    return inner.join(outer, key_col).filter(
        F.array_contains("ancestors", F.col("ancestor_id"))
    )


def anchor_texts(nodes: DataFrame, key_col: str = "url") -> DataFrame:
    """(key, href, anchor_text) per ``<a href>`` element: document-order
    concatenation of all text nodes under the anchor at any depth
    (``<a><b>bold</b> tail</a>`` -> ``"bold tail"``... modulo original
    spacing) — the link-text training signal (anchor->target pairs a la
    the MS MARCO/web-graph recipes) and the per-link text the link
    graph's quality filters key on.

    Same descendant-axis shape as :func:`elements_inside`: requires
    ``with_ancestors=True`` nodes; one within-document equi-join plus
    in-row membership, no recursive closure. Text order is restored
    with an in-row ``array_sort`` over (node_id, data) structs, so the
    aggregation stays a single map-side-combined shuffle. Anchors with
    no text descendants still appear (empty string), via a left join
    from the anchor set."""
    anchors = nodes.filter(
        (F.col("name") == "a") & F.col("attrs")["href"].isNotNull()
    ).select(
        key_col,
        F.col("node_id").alias("a_id"),
        F.col("attrs")["href"].alias("href"),
    )
    texts = nodes.filter(F.col("type") == "text").select(
        key_col, "node_id", "ancestors", "data"
    )
    gathered = (
        texts.join(anchors, key_col)
        .filter(F.array_contains("ancestors", F.col("a_id")))
        .groupBy(key_col, "a_id", "href")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("node_id", "data"))
                    ),
                    lambda s: s["data"],
                ),
                "",
            ).alias("anchor_text")
        )
    )
    return anchors.join(gathered, [key_col, "a_id", "href"], "left").select(
        key_col,
        "href",
        F.coalesce(F.col("anchor_text"), F.lit("")).alias("anchor_text"),
    )


def get_attribute_value(nodes: DataFrame, attr: str) -> DataFrame:
    """getAttributeValue-equivalent: ``(url, node_id, name, value)`` for
    nodes carrying the attribute (hasAttrib = value IS NOT NULL)."""
    return nodes.select(
        "url",
        "node_id",
        "name",
        F.col("attrs")[attr].alias("value"),
    ).filter(F.col("value").isNotNull())


def text_content_per_doc(nodes: DataFrame) -> DataFrame:
    """textContent per url from the relational table: document-order
    concatenation of text-node data (matches engine.dom.text_content)."""
    return (
        nodes.filter(F.col("type") == "text")
        .groupBy("url")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("node_id", "data"))
                    ),
                    lambda s: s["data"],
                ),
            ).alias("text")
        )
    )


def outer_html(pages: DataFrame, html_col: str = "html", **parser_options) -> DataFrame:
    """getOuterHTML-equivalent: parse + re-serialize each document."""
    render = _parse_udf("outer_html", StringType(), parser_options)
    return pages.withColumn("outer_html", render(F.col(html_col)))


def inner_html(pages: DataFrame, *, tag: str = "body", html_col: str = "html",
               **parser_options) -> DataFrame:
    """getInnerHTML-equivalent over pages: parse each document, locate
    the first element named ``tag`` (depth-first, like domutils
    getElementsByTagName(...)[0]), and serialize its children without
    the element's own tag (engine.dom.inner_html_of). NULL when the tag
    is absent."""
    render = _parse_udf("inner_html", StringType(), parser_options, tag=tag)
    return pages.withColumn("inner_html", render(F.col(html_col)))


def _descendant_ids(
    nodes: DataFrame,
    roots: DataFrame,
    *,
    key_col: str = "url",
    include_roots: bool = True,
) -> DataFrame:
    """Subtree closure: ``(rm_url, rm_id)`` rows covering every node at
    or under the ``roots`` seed rows (same two-column shape). Resolved
    iteratively (bounded by tree depth) with a self-join per level — the
    relational analogue of domutils' in-memory pointer walk. Shared by
    :func:`remove_elements` and dommanip.replace_element.

    Each round joins only the FRONTIER (nodes discovered last round) —
    re-joining the whole accumulated set would redo O(depth x |roots|)
    work for chain-shaped subtrees. localCheckpoint per round truncates
    lineage — iterative self-joins otherwise stack plans exponentially.
    """
    # Renamed projection avoids ambiguous self-join resolution.
    links = nodes.select(
        F.col(key_col).alias("rm_url"),
        F.col("parent_id").alias("rm_parent"),
        F.col("node_id").alias("rm_child"),
    )
    seen = roots.localCheckpoint(eager=True)
    frontier = seen
    converged = False
    # Max ~20 levels covers real-world DOM depth; the loop normally ends
    # earlier, when the frontier empties.
    for _ in range(21):
        child_hits = links.join(
            frontier,
            (links.rm_url == frontier.rm_url)
            & (links.rm_parent == frontier.rm_id),
        ).select(links.rm_url.alias("rm_url"), F.col("rm_child").alias("rm_id"))
        frontier = (
            child_hits.join(seen, ["rm_url", "rm_id"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if frontier.count() == 0:
            converged = True
            break
        seen = seen.unionByName(frontier).localCheckpoint(eager=True)
    if not converged:
        # Silent truncation would leave deep descendants alive in
        # downstream extraction — fail loudly.
        raise RuntimeError(
            "subtree expansion did not converge within 20 rounds; a "
            "matched subtree is deeper than the cap"
        )
    if include_roots:
        return seen
    return seen.join(roots, ["rm_url", "rm_id"], "left_anti")


def remove_elements(nodes: DataFrame, predicate) -> DataFrame:
    """removeElement-equivalent: drop matching elements AND their
    subtrees (subtree closure via :func:`_descendant_ids`)."""
    doomed = _descendant_ids(
        nodes,
        nodes.filter(predicate(nodes)).select(
            F.col("url").alias("rm_url"), F.col("node_id").alias("rm_id")
        ),
    )
    return nodes.join(
        doomed,
        (nodes.url == doomed.rm_url) & (nodes.node_id == doomed.rm_id),
        "left_anti",
    )


def find_one_child(nodes: DataFrame, predicate) -> DataFrame:
    """findOneChild-equivalent: among the DIRECT children of each
    parent, the first (document-order) row matching ``predicate`` —
    one row per (url, parent_id) group. domutils' findOneChild scans a
    single child array; partitioning by the parent instead of the url
    gives every parent its own answer in one window pass (reference
    re-export: /root/reference/src/index.ts:86)."""
    w = Window.partitionBy("url", "parent_id").orderBy("node_id")
    return (
        nodes.filter(predicate(nodes))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )


def has_attrib(nodes: DataFrame, attr: str) -> DataFrame:
    """hasAttrib-equivalent: element rows with a ``has_attrib`` boolean
    for key PRESENCE (an empty-string value still counts, matching
    domutils — ``attrs[k] IS NOT NULL`` alone would conflate a missing
    key with a present-but-NULL one only for maps that store NULLs,
    which ours never do; map_contains_key states the intent)."""
    return nodes.filter(F.col("type") == "tag").withColumn(
        "has_attrib", F.map_contains_key(F.col("attrs"), F.lit(attr))
    )


def test_element(options: dict):
    """testElement-equivalent: compile domutils' legacy options object
    (``tag_name``, ``tag_type``, ``tag_contains``, plus any attribute
    name -> required value) into one Column predicate usable with
    find_all/find_one/filter. Values may be strings (equality) or
    callables taking a Column (reference legacy surface: domutils
    legacy.js, re-exported at /root/reference/src/index.ts:86).

    Returns a function ``nodes -> Column`` like every other predicate
    in this module."""

    def _pred(nodes: DataFrame):
        conds = []
        for key, want in options.items():
            if key == "tag_name":
                col = F.col("name")
            elif key == "tag_type":
                col = F.col("type")
            elif key == "tag_contains":
                col = F.col("data")
            else:
                col = F.col("attrs")[key]
            conds.append(want(col) if callable(want) else (col == want))
        out = F.lit(True)
        for c in conds:
            out = out & c
        return out

    return _pred


def get_elements(options: dict, nodes: DataFrame) -> DataFrame:
    """getElements-equivalent (legacy query-by-options): all rows
    matching the compiled :func:`test_element` predicate."""
    return nodes.filter(test_element(options)(nodes))


def unique_sort(nodes: DataFrame) -> DataFrame:
    """uniqueSort-equivalent: dedupe a node subset and return it in
    document order. Relationally, (url, node_id) IS document identity
    and pre-order position, so this is a distinct + within-url sort —
    no pointer walks. sortWithinPartitions keeps the sort local (no
    global range shuffle); consumers needing a total order already key
    on (url, node_id)."""
    return nodes.dropDuplicates(["url", "node_id"]).sortWithinPartitions(
        "url", "node_id"
    )


def remove_subsets(nodes: DataFrame) -> DataFrame:
    """removeSubsets-equivalent: drop rows that have an ANCESTOR in the
    same set (domutils removes nodes replaced by their own containers
    before serializing a selection). Requires ``with_ancestors=True``
    rows; containment is one within-url self-join testing membership of
    the candidate ancestor's id in the row's root-first ``ancestors``
    array — no tree walk, and the join key (url) keeps all comparisons
    document-local at 100 TB."""
    cand = nodes.select(
        F.col("url").alias("rs_url"), F.col("node_id").alias("rs_id")
    )
    return nodes.join(
        cand,
        (nodes.url == cand.rs_url)
        & F.array_contains(nodes.ancestors, cand.rs_id),
        "left_anti",
    )


class DocumentPosition:
    """domutils' DocumentPosition bitmask constants (helpers.ts)."""

    DISCONNECTED = 1
    PRECEDING = 2
    FOLLOWING = 4
    CONTAINS = 8
    CONTAINED_BY = 16


def compare_document_position(
    a: DataFrame, b: DataFrame, *, mask_col: str = "position"
) -> DataFrame:
    """compareDocumentPosition-equivalent over node PAIRS: for each
    (url-matched) row pair from ``a`` x ``b``, the domutils bitmask
    describing a's position relative to b — PRECEDING(2)/FOLLOWING(4)
    by document order, plus CONTAINS(8)/CONTAINED_BY(16) for ancestry,
    DISCONNECTED(1) across documents is represented by the pair simply
    not joining (a relational set has no cross-document pairs).

    Both inputs need ``with_ancestors=True`` rows. Pre-order node ids
    make order a comparison and ancestry an array-membership test —
    semantics follow the DOM tree order spec; domutils' path-walk
    degenerates for two childless siblings (both paths stop at the
    shared parent, so it answers PRECEDING regardless of order) and we
    deliberately return true document order there instead.

    Output: (url, a_id, b_id, <mask_col>).
    """
    left = a.select(
        F.col("url").alias("url"),
        F.col("node_id").alias("a_id"),
        F.col("ancestors").alias("a_anc"),
    )
    right = b.select(
        F.col("url").alias("b_url"),
        F.col("node_id").alias("b_id"),
        F.col("ancestors").alias("b_anc"),
    )
    paired = left.join(right, left.url == right.b_url)
    mask = position_mask(
        F.col("a_id"), F.col("a_anc"), F.col("b_id"), F.col("b_anc")
    )
    return paired.select("url", "a_id", "b_id", mask.alias(mask_col))


def position_mask(a_id, a_anc, b_id, b_anc):
    """The DocumentPosition bitmask as a Column expression over an
    already-paired row — for callers that pair nodes themselves (a spec
    join, a within-query comparison) instead of taking the full a x b
    per-document product of :func:`compare_document_position`."""
    contains = F.array_contains(b_anc, a_id)
    contained = F.array_contains(a_anc, b_id)
    return (
        F.when(a_id == b_id, F.lit(0))
        .when(contains, F.lit(
            DocumentPosition.PRECEDING | DocumentPosition.CONTAINS))
        .when(contained, F.lit(
            DocumentPosition.FOLLOWING | DocumentPosition.CONTAINED_BY))
        .when(a_id < b_id, F.lit(DocumentPosition.PRECEDING))
        .otherwise(F.lit(DocumentPosition.FOLLOWING))
    )
