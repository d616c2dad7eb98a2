"""Graph-core tests mirroring the reference's unit suite
(executables/InternalTests/GraphTests.hs) on the music-catalogue model."""

import pytest

from graph_db_spark.catalogue import catalogue_schema
from graph_db_spark.graph import GraphSession, GraphSnapshot
from graph_db_spark.model import ROOT_ID


@pytest.fixture()
def session(spark):
    snap = GraphSnapshot.empty(spark, catalogue_schema())
    return GraphSession(snap)


def _insert_artist(tx, name, uid):
    a = tx.new_node("Artist", name=name, uid=uid)
    tx.add_target(ROOT_ID, a)
    return a


def test_new_node_and_get_value(session):
    def prog(tx):
        a = tx.new_node("Artist", name="The Beatles", uid=1)
        tx.add_target(ROOT_ID, a)
        return a

    a = session.write(prog)
    val = session.read(lambda s: s.get_value(a))
    assert val["name"] == "The Beatles"
    assert val["kind"] == "Artist"


def test_get_targets_by_index(session):
    def prog(tx):
        _insert_artist(tx, "The Beatles", 1)
        _insert_artist(tx, "Metallica", 2)

    session.write(prog)

    def by_name(s):
        ids = s.get_targets(ROOT_ID, "Catalogue_Artist_Name", "Metallica")
        return [r["name"] for r in s.get_values(ids).collect()]

    assert session.read(by_name) == ["Metallica"]
    # search-term (tokenized) index — Demo.hs:19-28
    terms = session.read(
        lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist_SearchTerm", "Beatles").count()
    )
    assert terms == 1
    # marker index: all artists
    assert session.read(lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist").count()) == 2


def test_adding_a_target_twice_makes_no_difference(session):
    """GraphTests.hs:147-152 — set-semantics edge insert."""

    def prog(tx):
        a = tx.new_node("Artist", name="A", uid=1)
        tx.add_target(ROOT_ID, a)
        tx.add_target(ROOT_ID, a)

    session.write(prog)
    stats = session.read(lambda s: s.get_stats())
    assert stats.nodes == 2
    assert stats.edges == 1


def test_stats(session):
    """GraphTests.hs:121-138 — stats reflect insertions."""
    base = session.read(lambda s: s.get_stats())
    assert base.as_tuple() == (1, 0, 0)

    def prog(tx):
        g = tx.new_node("Genre", name="Rock", uid=1)
        tx.add_target(ROOT_ID, g)
        s_ = tx.new_node("Song", name="Hey Jude", uid=1)
        tx.add_target(ROOT_ID, s_)
        tx.add_target(g, s_)

    session.write(prog)
    stats = session.read(lambda s: s.get_stats())
    assert stats.nodes == 3
    assert stats.edges == 3
    # Root→Genre: marker+UID+Name = 3; Root→Song: 3; Genre→Song: 1
    # Song name "Hey Jude" adds 0 extra (no search-term on songs)
    assert stats.index_entries == 7


def test_remove(session):
    """GraphTests.hs:104-119,140-145 — remove unlinks from all sources;
    the node stops being reachable/counted."""

    def prog(tx):
        g = tx.new_node("Genre", name="Rock", uid=1)
        tx.add_target(ROOT_ID, g)
        s_ = tx.new_node("Song", name="S", uid=1)
        tx.add_target(ROOT_ID, s_)
        tx.add_target(g, s_)
        return g, s_

    g, s_ = session.write(prog)
    session.write(lambda tx: tx.remove(s_))
    stats = session.read(lambda s: s.get_stats())
    assert stats.nodes == 2  # root + genre
    assert stats.edges == 1  # root→genre
    # song's vertex row may persist as garbage — matching the reference
    assert session.read(lambda s: s.get_value(s_)) is not None


def test_remove_target(session):
    def prog(tx):
        a = tx.new_node("Artist", name="A", uid=1)
        tx.add_target(ROOT_ID, a)
        s_ = tx.new_node("Song", name="S", uid=1)
        tx.add_target(ROOT_ID, s_)
        tx.add_target(s_, a)
        return a, s_

    a, s_ = session.write(prog)
    session.write(lambda tx: tx.remove_target(s_, a))
    stats = session.read(lambda s: s.get_stats())
    assert stats.nodes == 3
    assert stats.edges == 2
    assert session.read(lambda s: s.get_sources(a).count()) == 1  # only root


def test_set_value_reindexes(session):
    """Graph.hs:46-55 — setValue re-emits indexes against every source."""

    def prog(tx):
        a = tx.new_node("Artist", name="Old Name", uid=7)
        tx.add_target(ROOT_ID, a)
        return a

    a = session.write(prog)
    session.write(lambda tx: tx.set_value(a, "Artist", name="New Name", uid=7))
    assert (
        session.read(lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist_Name", "Old Name").count())
        == 0
    )
    found = session.read(
        lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist_Name", "New Name").collect()
    )
    assert [r["id"] for r in found] == [a]
    # search terms re-tokenized
    assert (
        session.read(lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist_SearchTerm", "New").count())
        == 1
    )


def test_traverse_targets_does_not_repeat(session):
    """GraphTests.hs:154-167 — distinct targets across all indexes."""

    def prog(tx):
        a = tx.new_node("Artist", name="A B C", uid=1)  # many index entries
        tx.add_target(ROOT_ID, a)

    session.write(prog)
    assert session.read(lambda s: s.get_all_targets(ROOT_ID).count()) == 1
    assert session.read(lambda s: s.get_sources(ROOT_ID).count()) == 0


def test_reads_inside_write_tx_see_staged_state(session):
    def prog(tx):
        a = tx.new_node("Artist", name="A", uid=1)
        tx.add_target(ROOT_ID, a)
        ids = tx.get_targets(ROOT_ID, "Catalogue_Artist_Name", "A")
        return [r["id"] for r in ids.collect()]

    assert session.write(prog) == [session.read(lambda s: s.get_targets(ROOT_ID, "Catalogue_Artist").collect())[0]["id"]]


def test_readd_after_remove(session):
    """Net-effect semantics must match sequential: remove then re-add keeps
    the edge alive."""

    def prog(tx):
        a = tx.new_node("Artist", name="A", uid=1)
        tx.add_target(ROOT_ID, a)
        tx.remove_target(ROOT_ID, a)
        tx.add_target(ROOT_ID, a)

    session.write(prog)
    assert session.read(lambda s: s.get_stats()).edges == 1


def test_demo_scenario_search_terms(session):
    """The reference's Demo.hs end-to-end flow (Demo.hs:19-45,73-79):
    insert artists under the root with tokenized search-term indexes, then
    look up by a single word and read values back."""
    from graph_db_spark.model import ROOT_ID

    def prog(tx):
        for name, uid in [("The Beatles", 1), ("Beatles Revival", 2), ("Pink Floyd", 3)]:
            a = tx.new_node("Artist", name=name, uid=uid)
            tx.add_target(ROOT_ID, a)

    session.write(prog)
    g = session.snapshot
    hits = g.get_targets(ROOT_ID, "Catalogue_Artist_SearchTerm", "Beatles")
    names = {r["name"] for r in g.get_values(hits).collect()}
    assert names == {"The Beatles", "Beatles Revival"}
    # exact-name and UID indexes resolve the same nodes
    by_name = g.get_targets(ROOT_ID, "Catalogue_Artist_Name", "Pink Floyd")
    assert [r["uid"] for r in g.get_values(by_name).collect()] == [3]
    by_uid = g.get_targets(ROOT_ID, "Catalogue_Artist_UID", "2")
    assert [r["name"] for r in g.get_values(by_uid).collect()] == ["Beatles Revival"]


def test_snapshot_isolation_across_commit(session):
    """The fair-RWLock analogue (Nonpersistent.hs:51-56): a reader's
    snapshot reference stays consistent while a writer commits — immutable
    DataFrames give readers snapshot isolation for free."""
    from graph_db_spark.model import ROOT_ID

    session.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="before", uid=1)))
    reader_view = session.snapshot
    before = reader_view.vertices.filter("kind = 'Artist'").count()

    session.write(lambda tx: tx.add_target(ROOT_ID, tx.new_node("Artist", name="after", uid=2)))
    # old reference unchanged; new snapshot sees the commit
    assert reader_view.vertices.filter("kind = 'Artist'").count() == before
    assert session.snapshot.vertices.filter("kind = 'Artist'").count() == before + 1


def test_set_value_reindexes_src_referencing_specs(spark):
    """An IndexSpec whose key_expr reads src_-prefixed payload must be
    re-emitted when the SOURCE node is re-valued (not only the dst —
    model.py:30-34 allows src_ exprs, so apply_events includes edges out
    of re-valued nodes in the touched set when such a spec exists)."""
    from graph_db_spark.model import EdgeKind, GraphSchema, IndexSpec, VertexKind

    schema = GraphSchema(
        vertex_kinds=(VertexKind("Root"), VertexKind("Tag", ("name",)), VertexKind("Item", ("name",))),
        edge_kinds=(
            EdgeKind("Root", "Tag", (IndexSpec("Root_Tag"),)),
            # key combines the SOURCE tag's name with the item's name
            EdgeKind("Tag", "Item", (IndexSpec("Tag_Item_Combined", "concat(src_name, ':', name)"),)),
        ),
    )
    s = GraphSession(GraphSnapshot.empty(spark, schema))

    def prog(tx):
        t = tx.new_node("Tag", name="old")
        i = tx.new_node("Item", name="thing")
        tx.add_target(ROOT_ID, t)
        tx.add_target(t, i)
        return t, i

    t, i = s.write(prog)
    assert s.read(lambda g: g.get_targets(t, "Tag_Item_Combined", "old:thing").count()) == 1

    s.write(lambda tx: tx.set_value(t, "Tag", name="new"))
    assert s.read(lambda g: g.get_targets(t, "Tag_Item_Combined", "old:thing").count()) == 0
    assert s.read(lambda g: g.get_targets(t, "Tag_Item_Combined", "new:thing").count()) == 1


def test_emission_copartition_equals_broadcast(spark, sf_dir):
    """The co-partitioned index-emission path (broadcast_vertices=False —
    what a true 100 TB load uses after pre-bucketing) emits exactly the
    same edge_index as the broadcast path."""
    from graph_db_spark.catalogue import tpch_graph_schema
    from graph_db_spark.graph import emit_edge_index

    from graph_db_spark.catalogue import tpch_graph

    g = tpch_graph(spark, sf_dir)
    co = emit_edge_index(g.edges, g.vertices, tpch_graph_schema(), broadcast_vertices=False)
    bc = emit_edge_index(g.edges, g.vertices, tpch_graph_schema(), broadcast_vertices=True)
    assert co.exceptAll(bc).isEmpty() and bc.exceptAll(co).isEmpty()
    assert bc.count() > 0


def test_bfs_broadcast_degrade_path_matches(spark, sf_dir, monkeypatch):
    """The size-guarded broadcast→shuffle degrade inside the BFS
    (graph.py BFS_BROADCAST_MAX_IDS) is the branch that exists precisely
    for the 100× scale-up — force it to trip on the small fixture and
    assert all three strategies agree:

    1. default broadcast path (guard never trips at this scale),
    2. mid-traversal degrade (guard lowered to 100 ids → the loop switches
       to shuffle joins after the first level, and get_stats' semi-joins
       take the no-broadcast hint too),
    3. broadcast disabled from level 0 (guard lowered to 0 ids).
    """
    from graph_db_spark.catalogue import tpch_graph

    g = tpch_graph(spark, sf_dir)
    base = g.get_stats()
    assert base.nodes > 100  # the lowered guard below really does trip

    monkeypatch.setattr(GraphSnapshot, "BFS_BROADCAST_MAX_IDS", 100)
    degraded = g.get_stats()
    assert degraded.as_tuple() == base.as_tuple()

    monkeypatch.setattr(GraphSnapshot, "BFS_BROADCAST_MAX_IDS", 0)
    no_bcast = g.get_stats()
    assert no_bcast.as_tuple() == base.as_tuple()


def test_reachable_degrade_path_matches(spark, sf_dir, monkeypatch):
    """Same three-way agreement for the raw reachable() frontier walk:
    identical (id) sets, not just identical counts."""
    from graph_db_spark.catalogue import tpch_graph

    g = tpch_graph(spark, sf_dir)
    base = g.reachable()
    monkeypatch.setattr(GraphSnapshot, "BFS_BROADCAST_MAX_IDS", 100)
    degraded = g.reachable()
    monkeypatch.setattr(GraphSnapshot, "BFS_BROADCAST_MAX_IDS", 0)
    shuffled = g.reachable()
    assert degraded.exceptAll(base).unionByName(base.exceptAll(degraded)).isEmpty()
    assert shuffled.exceptAll(base).unionByName(base.exceptAll(shuffled)).isEmpty()


def test_general_commit_materializes_under_insert_stream(session):
    """A general (non-insert) commit's deep apply_events tree must be
    truncated within MATERIALIZE_EVERY commits even when every LATER
    commit is insert-only — the threshold reflects what is pending since
    the last materialize, not the current commit's shape (round-5 review
    finding: the general tree otherwise survived ~2*parallelism
    commits)."""
    a = session.write(lambda tx: _insert_artist(tx, "A", 1))
    # general commit: set_value on the existing node -> not insert_only
    session.write(lambda tx: tx.set_value(a, "Artist", name="A2", uid=1))
    assert session._general_pending
    start_lazy = session._lazy_commits
    materialized_at = None
    for i in range(session.MATERIALIZE_EVERY + 1):
        session.write(lambda tx, i=i: _insert_artist(tx, f"B{i}", 100 + i))
        if session._lazy_commits == 0:
            materialized_at = i
            break
    assert materialized_at is not None, "never materialized under insert stream"
    assert start_lazy + materialized_at + 1 <= session.MATERIALIZE_EVERY + 1
    assert not session._general_pending
    # and the data survived the compaction
    names = {
        r["name"]
        for r in session.read(
            lambda s: s.get_values(s.get_targets(ROOT_ID, "Catalogue_Artist"))
        ).collect()
    }
    assert "A2" in names and "B0" in names
