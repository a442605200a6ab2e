"""The per-document tables (``sidetables`` and ``pdfacts.FACTS``): their Spark
schemas are pinned, and the one Arrow batch mapper is checked without Spark.

The oracle gate compares values through ``oracle_compare.norm_cell``, which
prints ``int`` and ``bigint`` alike, so a column type change would pass it;
the pins below catch one.
"""

import pyarrow as pa
import pytest

from caraspark import pdfacts, sidetables
from caraspark.sidetables import DocTable
from caraspark.synth import pdf_minimal

SCHEMAS = {
    "EDGES": "struct<url:string,src_num:int,src_gen:int,dst_num:int,dst_gen:int,"
    "path:string,dangling:boolean>",
    "OBJECTS": "struct<url:string,num:int,gen:int,kind:string,type_name:string,"
    "body_json:string,n_refs:int>",
    "ATTACHMENTS": "struct<url:string,att_name:string,att_md5:string,"
    "att_size:bigint>",
    "CLEANUP": "struct<url:string,clean_md5:string,clean_bytes:bigint,"
    "fixpoint:boolean>",
    "OUTLINE": "struct<url:string,pos:int,level:int,title:string>",
    "FORMFIELDS": "struct<url:string,pos:int,fname:string,ft:string,"
    "fvalue:string>",
    "JAVASCRIPT": "struct<url:string,pos:int,source:string,js_len:int,"
    "js_md5:string,js_head:string>",
    "ACTIONS": "struct<url:string,pos:int,source:string,s:string,target:string>",
    "REVISIONS": "struct<url:string,rev:int,kind:string,size:int,"
    "has_prev:boolean,has_xrefstm:boolean,n_won:int>",
    "PAGES": "struct<url:string,page:int,obj:string,content_bytes:int,"
    "text_len:int,text_md5:string>",
    "FONTS": "struct<url:string,obj:string,subtype:string,base_font:string,"
    "embedded:boolean>",
    "SIGS": "struct<url:string,obj:string,filter:string,subfilter:string,"
    "n_ranges:int,starts_at_zero:boolean,unsigned_tail:int>",
    "XMP": "struct<url:string,obj:string,xmp_title:string,xmp_creator:string,"
    "create_date:string,info_title:string,title_match:boolean>",
    "SCAVENGE": "struct<url:string,n_markers:int,n_parsed:int,n_confirmed:int,"
    "n_shadow:int,n_xref_inuse:int>",
    "REPAIR": "struct<url:string,repaired_bytes:bigint,repaired_md5:string,"
    "n_objects:int,repaired_valid:boolean>",
    "ANNOTS": "struct<url:string,pos:int,page_idx:int,subtype:string,"
    "has_action:boolean,has_aa:boolean,has_appearance:boolean>",
    "CONTENT_OPS": "struct<url:string,op:string,n:int>",
    "STREAM_STATS": "struct<url:string,num:int,gen:int,decoded:boolean,"
    "n_bytes:bigint,n_distinct:int,top_permille:int>",
    "FACTS": "struct<url:string,kind:string,version:string,valid:boolean,"
    "strict:boolean,n_tokens:int,n_tok_int:int,n_tok_name:int,n_tok_str:int,"
    "n_xref_inuse:int,n_xref_free:int,n_xref_compressed:int,filters:string,"
    "n_objects:int,n_reachable:int,n_holes:int,hole_bytes:bigint,"
    "encrypted:boolean,hybrid:boolean,text_md5:string>",
}


def _tables() -> dict[str, DocTable]:
    return {
        name: t
        for mod in (sidetables, pdfacts)
        for name, t in vars(mod).items()
        if isinstance(t, DocTable)
    }


def test_every_table_is_pinned():
    assert sorted(_tables()) == sorted(SCHEMAS)


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_table_spark_schema_is_pinned(name):
    schema = _tables()[name].spark_schema
    assert schema.simpleString() == SCHEMAS[name]
    assert all(f.nullable for f in schema.fields)


def _docs(*pairs):
    urls, blobs = zip(*pairs)
    return pa.record_batch(
        {"url": pa.array(urls), "html": pa.array(blobs, pa.large_binary())}
    )


def test_mapper_one_output_batch_per_input_batch_with_rows():
    pdf = pdf_minimal()
    batches = [
        _docs(("a", pdf), ("b", None), ("c", b"<p>html</p>")),
        _docs(("d", None)),
        _docs(("e", pdf)),
    ]
    out = list(sidetables.CLEANUP.batches(iter(batches)))
    # the middle batch gives no rows, so no batch
    assert [b.column("url").to_pylist() for b in out] == [["a"], ["e"]]
    assert all(b.schema == sidetables.CLEANUP.schema for b in out)
    assert out[0].column("fixpoint").to_pylist() == [True]
    # the facts table has a row for every document, a NULL blob as HTML
    facts = list(pdfacts.FACTS.batches(iter(batches)))
    assert [b.num_rows for b in facts] == [3, 1, 1]
    assert facts[1].to_pylist()[0]["kind"] == "html"


def test_pdf_guard():
    pdf = pdf_minimal()
    # a table without marker names is never pruned
    assert list(sidetables.EDGES.rows("u", pdf))
    # no /Outlines in the bytes: pruned, so no rows
    assert sidetables._prune_skip(pdf, b"/Outlines")
    assert list(sidetables.OUTLINE.rows("u", pdf)) == []
    # NULL and non-PDF blobs give no rows
    assert list(sidetables.EDGES.rows("u", None)) == []
    assert list(sidetables.EDGES.rows("u", b"<p>html</p>")) == []
