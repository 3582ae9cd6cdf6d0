

def test_text_source_roundtrip_and_whole_file(spark, tmp_path):
    from graph_db_clustering_spark.sources.files import read_text, write_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "value string")
    out = str(tmp_path / "txt")
    write_text(df, out)
    back = read_text(spark, out)
    assert sorted(r.value for r in back.collect()) == ["alpha", "beta", "gamma"]
    whole = read_text(spark, out, whole_file=True).select(
        F.sort_array(F.split(F.trim("value"), "\n")).alias("lines")
    )
    # empty part files read as "" rows under wholetext; drop them
    got = sorted(x for r in whole.collect() for x in r.lines if x)
    assert got == ["alpha", "beta", "gamma"]


def test_avro_read_falls_back_to_pure_python(spark, tmp_path):
    """Without the spark-avro module, files.read_avro serves flat-record
    containers via the pure-Python reader; the WRITE side keeps its
    classpath gate (we read foreign data, we don't need to emit Avro)."""
    import pytest as _pytest

    from graph_db_clustering_spark.sources import avro as pyavro
    from graph_db_clustering_spark.sources.files import read_avro, write_avro

    schema = {"type": "record", "name": "R",
              "fields": [{"name": "a", "type": "long"},
                         {"name": "b", "type": "string"}]}
    (tmp_path / "x.avro").write_bytes(
        pyavro.encode_container(schema, [{"a": 1, "b": "p"}, {"a": 2, "b": "q"}])
    )
    got = sorted(tuple(r) for r in read_avro(spark, str(tmp_path)).collect())
    assert got == [(1, "p"), (2, "q")]
    with _pytest.raises(NotImplementedError, match="spark-avro"):
        write_avro(spark.range(3), str(tmp_path / "out"))


def test_xml_source_roundtrip(spark, tmp_path):
    """Native Spark-4 XML source: explicit-schema read, one row per
    rowTag element, sink round-trip."""
    from graph_db_clustering_spark.sources.files import read_xml, write_xml

    p = tmp_path / "docs.xml"
    p.write_text(
        "<docs>"
        "<doc><id>1</id><title>alpha</title><score>0.5</score></doc>"
        "<doc><id>2</id><title>beta</title><score>1.5</score></doc>"
        "</docs>"
    )
    df = read_xml(
        spark, str(p), "doc", "id long, title string, score double"
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "alpha", 0.5), (2, "beta", 1.5)]
    out = tmp_path / "out_xml"
    write_xml(df, str(out), row_tag="doc")
    back = read_xml(spark, str(out), "doc", "id long, title string, score double")
    assert sorted(map(tuple, back.collect())) == rows


def test_arrow_ipc_roundtrip_and_gate(spark, tmp_path):
    """Two multi-batch .arrow files round-trip exactly; an unmapped
    Arrow type raises loudly; empty dir raises."""
    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pytest as _pytest

    from graph_db_clustering_spark.sources.arrow_ipc import read_arrow_ipc

    rows = [(i, f"s{i}", float(i) / 4) for i in range(100)]
    tbl = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "s": pa.array([r[1] for r in rows], pa.string()),
            "v": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    d = tmp_path / "arrow"
    d.mkdir()
    for i, sl in enumerate((tbl.slice(0, 60), tbl.slice(60))):
        with ipc.new_file(str(d / f"f{i}.arrow"), tbl.schema) as w:
            # two batches per file to exercise the batch loop
            w.write_table(sl, max_chunksize=25)
    df = read_arrow_ipc(spark, str(d))
    assert df.count() == 100
    got = {(r.id, r.s, r.v) for r in df.collect()}
    assert got == set(rows)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "string", "double",
    ]

    weird = pa.table({"m": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int64()))})
    d2 = tmp_path / "weird"
    d2.mkdir()
    with ipc.new_file(str(d2 / "w.arrow"), weird.schema) as w:
        w.write_table(weird)
    with _pytest.raises(NotImplementedError, match="unmapped"):
        read_arrow_ipc(spark, str(d2))
    with _pytest.raises(ValueError, match="no files"):
        read_arrow_ipc(spark, str(tmp_path / "arrow"), glob="*.nope")


def test_xlsx_reader_cell_types_and_sheets(spark, tmp_path):
    """Hand-built workbook: shared strings, inline strings, booleans,
    sparse rows (skipped cells stay None), named-sheet selection, and
    the missing-sheet error."""
    import zipfile

    import pytest as _pytest

    from graph_db_clustering_spark.sources.xlsx import XlsxError, read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}"><sheets>'
        '<sheet name="Data" sheetId="1"/><sheet name="Other" sheetId="2"/>'
        "</sheets></workbook>"
    )
    sheet1 = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>42</v></c>'
        '<c r="C2" t="b"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="inlineStr"><is><t>in</t><t>line</t></is></c>'
        '<c r="C3" t="b"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    sheet2 = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2"><v>7</v></c></row>'
        "</sheetData></worksheet>"
    )
    ss = (
        f'<?xml version="1.0"?><sst xmlns="{ns}" count="4" uniqueCount="4">'
        "<si><t>name</t></si><si><t>num</t></si><si><t>flag</t></si>"
        "<si><t>x</t></si></sst>"
    )
    d = tmp_path / "xl"
    d.mkdir()
    with zipfile.ZipFile(str(d / "t.xlsx"), "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/worksheets/sheet1.xml", sheet1)
        zf.writestr("xl/worksheets/sheet2.xml", sheet2)
        zf.writestr("xl/sharedStrings.xml", ss)
    df = read_xlsx(spark, str(d))
    rows = {tuple(str(v) for v in r) for r in df.collect()}
    assert df.columns == ["name", "num", "flag"]
    assert rows == {("x", "42", "true"), ("inline", "None", "false")}
    other = read_xlsx(spark, str(d), sheet="Other")
    assert [r.name for r in other.collect()] == ["7"]
    with _pytest.raises(XlsxError, match="not in"):
        read_xlsx(spark, str(d), sheet="Nope")


def test_neo4j_csv_header_convention(spark, tmp_path):
    """Typed properties cast per the admin-import suffixes; missing
    :TYPE defaults; bad type and missing :ID raise."""
    import pytest as _pytest

    from graph_db_clustering_spark.sources.neo4j_csv import read_neo4j_graph

    nd = tmp_path / "nodes"
    rd = tmp_path / "rels"
    nd.mkdir(); rd.mkdir()
    (nd / "n.csv").write_text(
        "pid:ID,name:string,age:int,score:float,vip:boolean\n"
        "1,alice,30,1.5,true\n2,bob,41,2.25,false\n"
    )
    (rd / "r.csv").write_text(":START_ID,:END_ID,since:int\n1,2,2020\n")
    g = read_neo4j_graph(spark, str(nd), str(rd))
    v = {r.id: (r.name, r.age, r.score, r.vip) for r in g.vertices.collect()}
    assert v == {1: ("alice", 30, 1.5, True), 2: ("bob", 41, 2.25, False)}
    assert [f.dataType.simpleString() for f in g.vertices.schema.fields] == [
        "bigint", "string", "bigint", "double", "boolean",
    ]
    e = g.edges.first()
    assert (e.src, e.dst, e.relationship, e.since) == (1, 2, "RELATED", 2020)

    (nd / "n.csv").write_text("pid:ID,weird:tensor\n1,x\n")
    with _pytest.raises(ValueError, match="unsupported property type"):
        read_neo4j_graph(spark, str(nd), str(rd))
    (nd / "n.csv").write_text("pid,name:string\n1,x\n")
    with _pytest.raises(ValueError, match="missing \\['id'\\]"):
        read_neo4j_graph(spark, str(nd), str(rd))


def test_neo4j_csv_export_import_roundtrip(spark, tmp_path):
    """write_neo4j_csv -> read_neo4j_graph is the identity on
    vertices/edges (typed properties included)."""
    from graph_db_clustering_spark.operators.graph import Graph
    from graph_db_clustering_spark.sources.neo4j_csv import (
        read_neo4j_graph,
        write_neo4j_csv,
    )

    v = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", 2.0, False)],
        "id long, name string, score double, vip boolean",
    )
    e = spark.createDataFrame(
        [(1, 2, "KNOWS", 2020)], "src long, dst long, relationship string, since long"
    )
    g = Graph(v, e)
    np_, rp_ = str(tmp_path / "n"), str(tmp_path / "r")
    write_neo4j_csv(g, np_, rp_)
    back = read_neo4j_graph(spark, np_, rp_)
    assert {tuple(r) for r in back.vertices.collect()} == {tuple(r) for r in v.collect()}
    assert {tuple(r) for r in back.edges.collect()} == {tuple(r) for r in e.collect()}


def test_arrow_ipc_stream_format(spark, tmp_path):
    """Bare stream-format files (no ARROW1 footer) decode through the
    same source."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from graph_db_clustering_spark.sources.arrow_ipc import read_arrow_ipc

    tbl = pa.table({"id": pa.array(range(30), pa.int64())})
    d = tmp_path / "stream"
    d.mkdir()
    with ipc.new_stream(str(d / "s.arrow"), tbl.schema) as w:
        w.write_table(tbl, max_chunksize=7)
    df = read_arrow_ipc(spark, str(d))
    assert df.count() == 30 and df.agg({"id": "sum"}).first()[0] == sum(range(30))


def test_arrow_ipc_all_none_and_empty_columns(spark, tmp_path):
    """pandas writes an empty or all-None object column as Arrow null;
    it reads back as a NULL (void) column instead of being rejected."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from graph_db_clustering_spark.sources.arrow_ipc import read_arrow_ipc

    frames = {
        "all_none": pd.DataFrame({"id": [1, 2, 3], "s": [None, None, None]}),
        "empty": pd.DataFrame({"id": pd.Series([], dtype="int64"),
                               "s": pd.Series([], dtype=object)}),
    }
    for name, pdf in frames.items():
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        assert tbl.schema.field("s").type == pa.null()
        d = tmp_path / name
        d.mkdir()
        with ipc.new_file(str(d / "f.arrow"), tbl.schema) as w:
            w.write_table(tbl)
        df = read_arrow_ipc(spark, str(d))
        assert [f.dataType.simpleString() for f in df.schema.fields] == ["bigint", "void"]
        assert sorted(df.collect()) == [(i, None) for i in pdf["id"]]


def test_arrow_roundtrip_keeps_string_type_on_an_empty_slice(spark, sf_dir, tmp_path):
    """arrow_roundtrip writes the slice with its Spark schema, so an empty
    slice still reads back with o_orderpriority as string."""
    import pyarrow.parquet as pq

    from graph_db_clustering_spark.queries.traindata import arrow_roundtrip

    sf = tmp_path / "sf"
    sf.mkdir()
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    pq.write_table(orders.slice(0, 0), str(sf / "orders.parquet"))
    out = arrow_roundtrip(spark, str(sf))
    assert out.schema["o_orderpriority"].dataType.simpleString() == "string"
    assert out.collect() == []


def test_graphml_roundtrip_and_algorithms(spark, tmp_path):
    """write_graphml -> read_graphml is the identity (typed node/edge
    attrs, XML escaping); the imported graph runs the algorithm
    library; non-integer ids and unknown attr types raise."""
    import pytest as _pytest

    from graph_db_clustering_spark.operators.graph import Graph
    from graph_db_clustering_spark.operators.graph_algos import (
        connected_components,
    )
    from graph_db_clustering_spark.sources.graphml import (
        read_graphml,
        write_graphml,
    )

    v = spark.createDataFrame(
        [(0, "a<b", 1.5, True), (1, "y&z", 2.0, False), (2, None, None, None)],
        "id long, name string, score double, vip boolean",
    )
    e = spark.createDataFrame(
        [(0, 1, "KNOWS", 7)], "src long, dst long, relationship string, w long"
    )
    p = str(tmp_path / "g.graphml")
    write_graphml(Graph(v, e), p)
    back = read_graphml(spark, p)
    assert {tuple(r) for r in back.vertices.collect()} == {
        tuple(r) for r in v.collect()
    }
    assert {tuple(r) for r in back.edges.select("src", "dst", "relationship", "w").collect()} == {
        (0, 1, "KNOWS", 7)
    }
    comp = {r.id: r.component for r in connected_components(back).collect()}
    assert comp == {0: 0, 1: 0, 2: 2}

    bad = tmp_path / "bad.graphml"
    bad.write_text(
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
        '<graph><node id="alpha"/></graph></graphml>'
    )
    with _pytest.raises(ValueError, match="non-integer"):
        read_graphml(spark, str(bad))


def test_graphml_reads_networkx_style_document(spark, tmp_path):
    """A hand-written document in the exact shape nx.write_graphml
    emits (n-prefixed ids, keys d0/d1, default-typed string) parses."""
    from graph_db_clustering_spark.sources.graphml import read_graphml

    doc = """<?xml version='1.0' encoding='utf-8'?>
<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
  <key id="d1" for="edge" attr.name="weight" attr.type="double" />
  <key id="d0" for="node" attr.name="color" attr.type="string" />
  <graph edgedefault="undirected">
    <node id="n0"><data key="d0">red</data></node>
    <node id="n1"><data key="d0">blue</data></node>
    <edge source="n0" target="n1"><data key="d1">0.5</data></edge>
  </graph>
</graphml>"""
    p = tmp_path / "nx.graphml"
    p.write_text(doc)
    g = read_graphml(spark, str(p))
    assert {(r.id, r.color) for r in g.vertices.collect()} == {(0, "red"), (1, "blue")}
    r = g.edges.first()
    assert (r.src, r.dst, r.weight, r.relationship) == (0, 1, 0.5, "RELATED")
