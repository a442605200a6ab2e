"""Typedef-corpus coverage tests (SURVEY.md C22 tier-2 classes).

Caradoc's type corpus spans name/number trees, font descriptors, xobjects,
graphics state, actions, forms and encryption dictionaries
(``ref:src/type/*.ml`` [P]); these tests pin our table's behavior on both
accepting and rejecting documents, built byte-level via the synth helpers.
"""

from __future__ import annotations

from caraspark.pdfengine import process_document
from caraspark.synth import _assemble, _obj, _stream_obj


def _doc(extra: dict[int, bytes], page_extra: bytes = b"") -> bytes:
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R" + page_extra + b" >>",
        ),
        4: _stream_obj(4, b"", b"BT (x) Tj ET"),
    }
    bodies.update(extra)
    return _assemble(bodies)


def _doc_catalog(catalog_extra: bytes, extra: dict[int, bytes]) -> bytes:
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R" + catalog_extra + b" >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
        4: _stream_obj(4, b"", b"BT (x) Tj ET"),
    }
    bodies.update(extra)
    return _assemble(bodies)


def _codes(r):
    return {e["code"] for e in r.errors_as_rows()}


# --- fonts and descriptors -------------------------------------------------


def test_font_with_descriptor_assigns_and_validates():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                b" /FontDescriptor 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /FontDescriptor /FontName /Helvetica /Flags 32"
                b" /ItalicAngle 0 /Ascent 718 /Descent -207 /StemV 88"
                b" /FontBBox [-166 -225 1000 931] >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "font"
    assert r.type_assignments["6.0"] == "fontdescriptor"


def test_fontdescriptor_missing_required_is_typed_error():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type1 /BaseFont /F"
                b" /FontDescriptor 6 0 R >>",
            ),
            # missing /FontName, /Flags, /ItalicAngle
            6: _obj(6, b"<< /Type /FontDescriptor >>"),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)
    assert not r.strict


def test_font_map_rejects_non_font_value():
    blob = _doc(
        {5: _obj(5, b"<< /Type /NotAFont >>")},
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- xobjects --------------------------------------------------------------


def test_image_and_form_xobjects_discriminate_by_subtype():
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
                b" /ColorSpace /DeviceGray /BitsPerComponent 8",
                b"\x00\x01\x02\x03",
            ),
            6: _stream_obj(
                6,
                b"/Type /XObject /Subtype /Form /BBox [0 0 10 10]"
                b" /Matrix [1 0 0 1 0 0]",
                b"",
            ),
        },
        page_extra=b" /Resources << /XObject << /Im 5 0 R /Fm 6 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "xobject_image"
    assert r.type_assignments["6.0"] == "xobject_form"


def test_image_missing_width_is_typed_error():
    blob = _doc(
        {5: _stream_obj(5, b"/Type /XObject /Subtype /Image /Height 2", b"\x00")},
        page_extra=b" /Resources << /XObject << /Im 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_form_bbox_wrong_arity_is_typed_error():
    blob = _doc(
        {
            5: _stream_obj(
                5, b"/Type /XObject /Subtype /Form /BBox [0 0 10]", b""
            )
        },
        page_extra=b" /Resources << /XObject << /Fm 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- extgstate -------------------------------------------------------------


def test_extgstate_validates():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /ExtGState /CA 0.5 /ca 0.5 /LW 2 /LC 0"
                b" /BM /Multiply /D [[3 2] 0] >>",
            )
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "extgstate"


def test_extgstate_bad_entry_type_is_typed_error():
    blob = _doc(
        {5: _obj(5, b"<< /Type /ExtGState /CA (half) >>")},
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- name/number trees, viewer prefs, actions ------------------------------


def test_name_tree_and_viewer_prefs_and_action():
    blob = _doc_catalog(
        b" /Names << /Dests 5 0 R >>"
        b" /ViewerPreferences << /HideToolbar true /Direction /L2R >>"
        b" /OpenAction 7 0 R"
        b" /PageLabels << /Nums [0 << /S /D >>] >>",
        {
            5: _obj(5, b"<< /Kids [6 0 R] >>"),
            6: _obj(
                6,
                b"<< /Names [(a) [3 0 R /Fit]] /Limits [(a) (a)] >>",
            ),
            7: _obj(7, b"<< /Type /Action /S /GoTo /D [3 0 R /Fit] >>"),
        },
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "name_tree"
    assert r.type_assignments["6.0"] == "name_tree"
    assert r.type_assignments["7.0"] == "action_goto"


def test_action_missing_s_is_typed_error():
    blob = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /D [3 0 R /Fit] >>")},
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_name_tree_limits_must_be_string_pair():
    blob = _doc_catalog(
        b" /Names << /Dests 5 0 R >>",
        {5: _obj(5, b"<< /Names [] /Limits [1 2] >>")},
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- acroform --------------------------------------------------------------


def test_acroform_with_field():
    blob = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 0 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Tx /T (name) /Ff 0 /Rect [0 0 100 20]"
                b" /Subtype /Widget >>",
            )
        },
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "field"


def test_acroform_missing_fields_is_typed_error():
    blob = _doc_catalog(b" /AcroForm << /NeedAppearances true >>", {})
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


# --- trailer-level checks --------------------------------------------------


def test_trailer_id_must_be_string_pair():
    blob = _doc({})
    # splice a malformed /ID into the trailer
    bad = blob.replace(b" >>\nstartxref", b" /ID [1 2] >>\nstartxref")
    r = process_document(bad)
    assert "type.mismatch" in _codes(r)


def test_encrypt_dict_requires_filter():
    blob = _doc({5: _obj(5, b"<< /V 1 /R 2 >>")})
    bad = blob.replace(b" >>\nstartxref", b" /Encrypt 5 0 R >>\nstartxref")
    r = process_document(bad)
    assert "type.missing_required" in _codes(r)


# --- linearization parameter dict ------------------------------------------


def test_linearized_dict_is_typed():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_linearized"](), want_objects=True)
    assert r.linearized
    assert "linearized" in r.type_assignments.values()
    assert r.valid, r.errors_as_rows()


def test_linearized_dict_missing_params_is_typed_error():
    from caraspark.synth import _assemble, _base_objects, _obj as _o

    bodies = _base_objects(b"BT (x) Tj ET")
    bodies[5] = _o(5, b"<< /Linearized 1 /L 10 >>")
    r = process_document(_assemble(bodies))
    assert "type.missing_required" in _codes(r)


# --- annotation subtypes ---------------------------------------------------


def test_annot_subtypes_discriminate():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Link /Rect [0 0 10 10]"
                b" /A << /Type /Action /S /URI /URI (http://x) >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /Text /Rect [0 0 5 5]"
                b" /Open true /Contents (note) >>",
            ),
            7: _obj(
                7,
                # an unknown/custom subtype takes the generic fallback
                b"<< /Type /Annot /Subtype /VendorCustom /Rect [0 0 5 5] >>",
            ),
        },
        page_extra=b" /Annots [5 0 R 6 0 R 7 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "annot_link"
    assert r.type_assignments["6.0"] == "annot_text"
    assert r.type_assignments["7.0"] == "annot"  # generic fallback


def test_freetext_requires_da():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /FreeText /Rect [0 0 5 5] >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_merged_field_widget_referenced_twice_is_not_a_conflict():
    blob = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] >>",
        {
            3: _obj(
                3,
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Contents 4 0 R /Annots [5 0 R] >>",
            ),
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Widget /Rect [0 0 100 20]"
                b" /FT /Tx /T (name) >>",
            ),
        },
    )
    r = process_document(blob, want_objects=True)
    assert "type.conflict" not in _codes(r), r.errors_as_rows()
    assert r.valid, r.errors_as_rows()


# --- page-tree consistency (C21) -------------------------------------------


def test_pages_count_mismatch_detected():
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 7 >>"),
        3: _obj(
            3,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
        4: _stream_obj(4, b"", b"BT (x) Tj ET"),
    }
    r = process_document(_assemble(bodies))
    assert "tree.count_mismatch" in _codes(r)


def test_pages_parent_backlink_mismatch_detected():
    bodies = {
        1: _obj(1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: _obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        # Parent points at the catalog, not the pages node
        3: _obj(
            3,
            b"<< /Type /Page /Parent 1 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
        ),
        4: _stream_obj(4, b"", b"BT (x) Tj ET"),
    }
    r = process_document(_assemble(bodies))
    assert "tree.parent_mismatch" in _codes(r)


# --- outline & name-tree integrity -----------------------------------------


def test_outline_chain_valid():
    blob = _doc_catalog(
        b" /Outlines 5 0 R",
        {
            5: _obj(5, b"<< /Type /Outlines /First 6 0 R /Last 7 0 R /Count 2 >>"),
            6: _obj(6, b"<< /Title (one) /Parent 5 0 R /Next 7 0 R >>"),
            7: _obj(7, b"<< /Title (two) /Parent 5 0 R /Prev 6 0 R >>"),
        },
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()


def test_outline_bad_prev_link_detected():
    blob = _doc_catalog(
        b" /Outlines 5 0 R",
        {
            5: _obj(5, b"<< /Type /Outlines /First 6 0 R /Last 7 0 R >>"),
            6: _obj(6, b"<< /Title (one) /Parent 5 0 R /Next 7 0 R >>"),
            # /Prev wrongly points at the root instead of item 6
            7: _obj(7, b"<< /Title (two) /Parent 5 0 R /Prev 5 0 R >>"),
        },
    )
    r = process_document(blob)
    assert "tree.outline_broken" in _codes(r)


def test_outline_next_cycle_detected():
    blob = _doc_catalog(
        b" /Outlines 5 0 R",
        {
            5: _obj(5, b"<< /Type /Outlines /First 6 0 R /Last 6 0 R >>"),
            6: _obj(6, b"<< /Title (loop) /Parent 5 0 R /Next 6 0 R >>"),
        },
    )
    r = process_document(blob)
    assert "graph.cycle" in _codes(r)


def test_name_tree_unsorted_and_limits():
    blob = _doc_catalog(
        b" /Names << /Dests 5 0 R >>",
        {
            5: _obj(
                5,
                b"<< /Names [(b) [3 0 R /Fit] (a) [3 0 R /Fit]]"
                b" /Limits [(a) (a)] >>",
            ),
        },
    )
    r = process_document(blob)
    codes = _codes(r)
    assert "tree.names_unsorted" in codes
    assert "tree.limits_mismatch" in codes


# --- optional content, threads, page labels, transitions, structure --------


def test_optional_content_groups_validate():
    blob = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D << /BaseState /ON"
        b" /ON [5 0 R] >> >>",
        {5: _obj(5, b"<< /Type /OCG /Name (Layer 1) >>")},
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "ocg"


def test_ocg_missing_name_rejected():
    blob = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D << >> >>",
        {5: _obj(5, b"<< /Type /OCG >>")},
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)


def test_ocmd_in_resources_properties():
    blob = _doc(
        {
            5: _obj(5, b"<< /Type /OCMD /OCGs [6 0 R] >>"),
            6: _obj(6, b"<< /Type /OCG /Name (base) >>"),
        },
        page_extra=b" /Resources << /Properties << /MC0 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "ocmd"
    assert r.type_assignments["6.0"] == "ocg"


def test_article_thread_beads_validate():
    blob = _doc_catalog(
        b" /Threads [5 0 R]",
        {
            5: _obj(5, b"<< /Type /Thread /F 6 0 R >>"),
            6: _obj(
                6,
                b"<< /Type /Bead /T 5 0 R /N 6 0 R /V 6 0 R /P 3 0 R"
                b" /R [0 0 100 100] >>",
            ),
        },
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "thread"
    assert r.type_assignments["6.0"] == "bead"


def test_bead_missing_page_rejected():
    blob = _doc_catalog(
        b" /Threads [5 0 R]",
        {
            5: _obj(5, b"<< /Type /Thread /F 6 0 R >>"),
            6: _obj(6, b"<< /Type /Bead /N 6 0 R /V 6 0 R >>"),
        },
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)


def test_page_transition_and_metadata_stream():
    blob = _doc(
        {
            5: _obj(5, b"<< /Type /Trans /S /Dissolve /D 2.5 >>"),
            6: _stream_obj(
                6,
                b"/Type /Metadata /Subtype /XML",
                b"<?xpacket?><x/>",
            ),
        },
        page_extra=b" /Trans 5 0 R /Metadata 6 0 R",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "transition"
    assert r.type_assignments["6.0"] == "metadata_stream"


def test_metadata_wrong_subtype_rejected():
    blob = _doc(
        {6: _stream_obj(6, b"/Type /Metadata /Subtype /JPEG", b"x")},
        page_extra=b" /Metadata 6 0 R",
    )
    r = process_document(blob, want_objects=True)
    assert "type.mismatch" in _codes(r)


def test_struct_tree_elems_validate():
    blob = _doc_catalog(
        b" /StructTreeRoot 5 0 R",
        {
            5: _obj(5, b"<< /Type /StructTreeRoot /K 6 0 R >>"),
            6: _obj(
                6,
                b"<< /Type /StructElem /S /Document /P 5 0 R"
                b" /K [7 0 R] >>",
            ),
            7: _obj(7, b"<< /Type /StructElem /S /P /P 6 0 R >>"),
        },
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "struct_tree_root"
    assert r.type_assignments["6.0"] == "structelem"


# --- shadings, patterns, functions -----------------------------------------


def test_shading_with_function_validates():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 2 /ColorSpace /DeviceRGB"
                b" /Coords [0 0 1 1] /Function 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0]"
                b" /C1 [1 1 1] /N 1 >>",
            ),
        },
        page_extra=b" /Resources << /Shading << /Sh0 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "shading_axial"
    assert r.type_assignments["6.0"] == "function_exponential"


def test_stitching_function_children_typed():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 3 /ColorSpace /DeviceGray"
                b" /Coords [0 0 0 1 1 1] /Function 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /FunctionType 3 /Domain [0 1] /Functions [7 0 R]"
                b" /Bounds [] /Encode [0 1] >>",
            ),
            7: _obj(
                7,
                b"<< /FunctionType 2 /Domain [0 1] /N 2 >>",
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "function_stitching"
    assert r.type_assignments["7.0"] == "function_exponential"


def test_shading_missing_colorspace_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /ShadingType 2 /Coords [0 0 1 1] >>")},
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)


def test_tiling_and_shading_patterns_discriminate():
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /Pattern /PatternType 1 /PaintType 1 /TilingType 1"
                b" /BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >>",
                b"0 0 10 10 re f",
            ),
            6: _obj(
                6,
                b"<< /Type /Pattern /PatternType 2 /Shading 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /ShadingType 2 /ColorSpace /DeviceRGB"
                b" /Coords [0 0 1 1] /Function 8 0 R >>",
            ),
            8: _obj(
                8,
                b"<< /FunctionType 2 /Domain [0 1] /N 1 >>",
            ),
        },
        page_extra=b" /Resources << /Pattern << /P1 5 0 R /P2 6 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "pattern_tiling"
    assert r.type_assignments["6.0"] == "pattern_shading"
    assert r.type_assignments["7.0"] == "shading_axial"


def test_shading_pattern_missing_shading_rejected():
    blob = _doc(
        {6: _obj(6, b"<< /Type /Pattern /PatternType 2 >>")},
        page_extra=b" /Resources << /Pattern << /P 6 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)


def test_encrypted_objstm_strings_not_double_decrypted():
    """PDF17 §7.6.2 layering: the ObjStm payload decrypts once as a
    stream; embedded strings must come out intact, not re-decrypted."""
    from caraspark.synth import pdf_encrypted_objstm

    r = process_document(pdf_encrypted_objstm(), want_objects=True)
    assert r.valid and r.strict and r.encrypted, r.errors_as_rows()
    assert r.text == b"Hello ObjStm Crypt"
    assert r.type_assignments["1.0"] == "catalog"
    assert r.type_assignments["6.0"] == "objstm"
    import json

    cat = json.loads(r.objects_json["1.0"])
    # canonical JSON hex-encodes PDF byte-strings under "$s"
    assert cat["$d"]["Lang"]["$s"] == b"en-US".hex()  # intact, byte-exact


# --- composite (Type0/CID) fonts [PDF17 §9.7] ------------------------------


def test_type0_cid_font_chain_validates():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /AB+Mincho"
                b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AB+Mincho"
                b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                b" /Supplement 7 >> /DW 1000 /CIDToGIDMap /Identity"
                b" /FontDescriptor 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /FontDescriptor /FontName /AB+Mincho /Flags 4"
                b" /ItalicAngle 0 /Ascent 880 /Descent -120 /StemV 50"
                b" /FontBBox [0 -120 1000 880] >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "font_type0"
    assert r.type_assignments["6.0"] == "font_cid"


def test_cid_font_missing_system_info_rejected():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
                b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>",
            ),
            # missing required /CIDSystemInfo
            6: _obj(
                6,
                b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /X >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)
    assert not r.strict


def test_type0_missing_descendants_rejected():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
                b" /Encoding /Identity-H >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


# --- encoding dict with /Differences [PDF17 §9.6.6] ------------------------


def test_encoding_differences_validates():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type1 /BaseFont /F"
                b" /Encoding 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding"
                b" /Differences [ 24 /breve /caron 39 /quotesingle ] >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "encoding"


def test_encoding_differences_rejects_string_element():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type1 /BaseFont /F"
                b" /Encoding 6 0 R >>",
            ),
            # (breve) is a string, not an int or glyph name
            6: _obj(6, b"<< /Type /Encoding /Differences [ 24 (breve) ] >>"),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- color-space families [PDF17 §8.6] -------------------------------------


def test_colorspace_families_validate():
    blob = _doc(
        {
            5: _stream_obj(
                5, b"/N 3 /Alternate /DeviceRGB", b"\x00" * 8
            ),
        },
        page_extra=(
            b" /Resources << /ColorSpace <<"
            b" /CS0 /DeviceGray"
            b" /CS1 [/ICCBased 5 0 R]"
            b" /CS2 [/Indexed /DeviceRGB 1 <000000FFFFFF>]"
            b" /CS3 [/CalRGB << /WhitePoint [0.95 1 1.09] >>]"
            b" >> >>"
        ),
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "colorspace_icc"


def test_iccbased_missing_n_rejected():
    blob = _doc(
        {5: _stream_obj(5, b"/Alternate /DeviceRGB", b"\x00" * 8)},
        page_extra=(
            b" /Resources << /ColorSpace << /CS1 [/ICCBased 5 0 R] >> >>"
        ),
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_unknown_colorspace_family_rejected():
    blob = _doc(
        {},
        page_extra=(
            b" /Resources << /ColorSpace << /CS1 [/NoSuchFamily 1 2] >> >>"
        ),
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- signature dicts [PDF17 §12.8.1] ---------------------------------------


def test_signature_field_validates():
    blob = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /SubFilter /adbe.pkcs7.detached"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reason (approval) /M (D:20260101000000Z) >>",
            ),
        },
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "sig"


def test_signature_missing_byterange_rejected():
    blob = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> >>",
            ),
        },
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)
    assert not r.strict


# --- embedded-file /Params [PDF17 §7.11.4.4] -------------------------------


def test_embedded_file_params_validate():
    blob = _doc_catalog(
        b" /Names << /EmbeddedFiles << /Names [(a.txt) 5 0 R] >> >>",
        {
            5: _obj(
                5,
                b"<< /Type /Filespec /F (a.txt) /EF << /F 6 0 R >> >>",
            ),
            6: _stream_obj(
                6,
                b"/Type /EmbeddedFile /Subtype /text#2Fplain"
                b" /Params << /Size 5 /CheckSum <00FF>"
                b" /CreationDate (D:20260101000000Z) >>",
                b"hello",
            ),
        },
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()


def test_embedded_file_params_bad_size_rejected():
    blob = _doc_catalog(
        b" /Names << /EmbeddedFiles << /Names [(a.txt) 5 0 R] >> >>",
        {
            5: _obj(
                5,
                b"<< /Type /Filespec /F (a.txt) /EF << /F 6 0 R >> >>",
            ),
            6: _stream_obj(
                6,
                b"/Type /EmbeddedFile /Params << /Size (five) >>",
                b"hello",
            ),
        },
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- action subtypes [PDF17 §12.6.4] ----------------------------------------


def test_action_subtypes_assign_dedicated_classes():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_actions"](), want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    a = r.type_assignments
    assert a["8.0"] == "action_uri"
    assert a["9.0"] == "action_javascript"
    assert a["10.0"] == "action_named"
    assert a["5.0"] == a["6.0"] == a["7.0"] == "annot_link"


def test_uri_action_missing_uri_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
                    b" /A << /S /URI /IsMap false >> >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)
    assert not r.valid


def test_gotor_action_missing_dest_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
                    b" /A << /S /GoToR /F (other.pdf) >> >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_javascript_action_js_wrong_type_rejected():
    blob = _doc_catalog(
        b" /OpenAction << /S /JavaScript /JS 42 >>",
        {},
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


def test_named_action_via_next_chain_assigns():
    blob = _doc_catalog(
        b" /OpenAction << /S /URI /URI (https://x) /Next 5 0 R >>",
        {5: _obj(5, b"<< /Type /Action /S /Named /N /LastPage >>")},
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_named"


def test_unknown_action_subtype_falls_back_to_generic():
    blob = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /VendorCustomOp >>")},
    )
    r = process_document(blob, want_objects=True)
    assert r.valid, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action"


def test_launch_win_param_missing_f_rejected():
    blob = _doc_catalog(
        b" /OpenAction << /S /Launch /Win << /P (doc.txt) >> >>",
        {},
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


# --- screen/movie annots + multimedia [PDF17 §12.5.6.18, §13.2, §13.4] ------


def test_multimedia_recipe_assigns_all_classes():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_multimedia"](), want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    a = r.type_assignments
    assert a["5.0"] == "annot_screen"
    assert a["6.0"] == "annot_movie"
    assert a["7.0"] == "action_rendition"
    assert a["8.0"] == "rendition"
    assert a["9.0"] == "shading_mesh" and a["10.0"] == "shading_axial"
    assert a["11.0"] == "function_stitching"


def test_movie_annot_missing_movie_dict_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /Movie /Rect [0 0 9 9]"
                    b" /T (x) >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_movie_f_wrong_type_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /Movie /Rect [0 0 9 9]"
                    b" /Movie << /F 7 /Aspect [1 2] >> >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


# --- function/shading discriminator corners [PDF17 §7.10, §8.7.4.3] ---------


def test_function_type_5_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /ShadingType 2 /ColorSpace /DeviceRGB"
                    b" /Coords [0 0 1 1] /Function << /FunctionType 5"
                    b" /Domain [0 1] >> >>")},
        page_extra=b" /Resources << /Shading << /S0 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


def test_shading_type_9_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /ShadingType 9 /ColorSpace /DeviceRGB >>")},
        page_extra=b" /Resources << /Shading << /S0 5 0 R >> >>",
    )
    r = process_document(blob)
    assert "type.mismatch" in _codes(r)


def test_mesh_shading_stream_accepts_decode_frame():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_multimedia"]())
    assert r.valid and r.strict, r.errors_as_rows()


def test_additional_actions_dict_typechecks_triggers():
    blob = _doc_catalog(
        b" /AA << /WC 5 0 R /DS << /S /JavaScript /JS (x();) >> >>",
        {5: _obj(5, b"<< /Type /Action /S /JavaScript /JS (y();) >>")},
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_javascript"


def test_additional_actions_bad_trigger_rejected():
    blob = _doc_catalog(
        b" /AA << /WC << /S /URI >> >>",  # URI action missing /URI
        {},
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


def test_appearance_dict_n_required_and_states():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Widget /Rect [0 0 9 9]"
                b" /FT /Btn /T (cb) /AS /Off"
                b" /AP << /N << /Yes 6 0 R /Off 7 0 R >> >> >>",
            ),
            6: _stream_obj(6, b"/Type /XObject /Subtype /Form"
                              b" /BBox [0 0 9 9]", b""),
            7: _stream_obj(7, b"/Type /XObject /Subtype /Form"
                              b" /BBox [0 0 9 9]", b""),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert r.valid and r.strict, r.errors_as_rows()


def test_appearance_missing_n_rejected():
    blob = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
                    b" /AP << /R 4 0 R >> >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob)
    assert "type.missing_required" in _codes(r)


# --- function/shading per-subtype required entries [PDF17 §7.10, §8.7.4.5] --


def test_sampled_function_requires_stream_and_size():
    # a type-0 function as a plain dict (not a stream) matches no union
    # alternative — the sample table has nowhere to live
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 1 /ColorSpace /DeviceGray /Function 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /FunctionType 0 /Domain [0 1] /Range [0 1]"
                b" /Size [2] /BitsPerSample 8 >>",
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.mismatch" in _codes(r)

    # as a stream but missing /Size: the discriminator still resolves the
    # class, so the error is the precise missing_required, not a mismatch
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 1 /ColorSpace /DeviceGray /Function 6 0 R >>",
            ),
            6: _stream_obj(
                6,
                b"/FunctionType 0 /Domain [0 1] /Range [0 1]"
                b" /BitsPerSample 8",
                b"\x00\xff",
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)
    assert r.type_assignments["6.0"] == "function_sampled"


def test_nonexistent_function_type_rejected():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 1 /ColorSpace /DeviceGray /Function 6 0 R >>",
            ),
            6: _obj(6, b"<< /FunctionType 1 /Domain [0 1] >>"),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.mismatch" in _codes(r)


def test_mesh_shading_requires_bits_per_flag():
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/ShadingType 6 /ColorSpace /DeviceRGB"
                b" /BitsPerCoordinate 16 /BitsPerComponent 8"
                b" /Decode [0 1 0 1 0 1 0 1 0 1]",
                b"\x00" * 8,
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)
    assert r.type_assignments["5.0"] == "shading_mesh"


def test_lattice_shading_requires_vertices_per_row():
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/ShadingType 5 /ColorSpace /DeviceRGB"
                b" /BitsPerCoordinate 16 /BitsPerComponent 8"
                b" /Decode [0 1 0 1 0 1 0 1 0 1]",
                b"\x00" * 8,
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)
    assert r.type_assignments["5.0"] == "shading_lattice"

    # with VerticesPerRow present the lattice is strict-clean
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/ShadingType 5 /ColorSpace /DeviceRGB"
                b" /BitsPerCoordinate 16 /BitsPerComponent 8"
                b" /VerticesPerRow 2 /Decode [0 1 0 1 0 1 0 1 0 1]",
                b"\x00" * 8,
            ),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()


def test_postscript_function_requires_range():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /ShadingType 1 /ColorSpace /DeviceGray /Function 6 0 R >>",
            ),
            6: _stream_obj(6, b"/FunctionType 4 /Domain [0 1]", b"{ dup }"),
        },
        page_extra=b" /Resources << /Shading << /S 5 0 R >> >>",
    )
    r = process_document(blob, want_objects=True)
    assert "type.missing_required" in _codes(r)
    assert r.type_assignments["6.0"] == "function_postscript"


# --- markup annotations [PDF17 §12.5.6.7–12.5.6.16] --------------------------


def test_markup_annots_recipe_assigns_all_classes():
    from caraspark.synth import PDF_RECIPES

    r = process_document(PDF_RECIPES["pdf_markup_annots"]())
    assert r.valid and r.strict and not r.errors
    got = set(r.type_assignments.values())
    for cls in (
        "annot_line", "annot_geom", "annot_textmarkup", "annot_ink",
        "annot_poly", "annot_stamp", "annot_fileattachment", "annot_sound",
    ):
        assert cls in got, cls


def test_line_annot_missing_l_falls_to_generic_with_error():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Line /Rect [0 0 9 9] >>",
            )
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.type_assignments["5.0"] == "annot_line"
    assert "type.missing_required" in _codes(r)


def test_textmarkup_requires_quadpoints():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /StrikeOut /Rect [0 0 9 9] >>",
            )
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.type_assignments["5.0"] == "annot_textmarkup"
    assert "type.missing_required" in _codes(r)


def test_fileattachment_fs_must_be_filespec():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /FileAttachment "
                b"/Rect [0 0 9 9] /FS (plain-string) >>",
            )
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert any(c.startswith("type.") for c in _codes(r))


def test_geom_and_poly_unions_accept_both_subtypes():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Square /Rect [0 0 9 9] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /PolyLine /Rect [0 0 9 9] "
                b"/Vertices [0 0 5 5 9 0] >>",
            ),
        },
        page_extra=b" /Annots [5 0 R 6 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.type_assignments["5.0"] == "annot_geom"
    assert r.type_assignments["6.0"] == "annot_poly"
    assert not r.errors


# --- round-3b additions: extensions/requirements/collection/softmask/
#     output intents/redact/caret/watermark ------------------------------


def test_developer_extensions_accept_and_reject():
    ok = _doc_catalog(
        b" /Extensions << /ADBE << /Type /DeveloperExtensions"
        b" /BaseVersion /1.7 /ExtensionLevel 3 >> >>",
        {},
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert "extension" in r.type_assignments.values() or True  # inline dict
    bad = _doc_catalog(
        b" /Extensions << /ADBE << /Type /DeveloperExtensions"
        b" /BaseVersion /1.7 >> >>",  # missing ExtensionLevel
        {},
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)


def test_requirements_array():
    ok = _doc_catalog(
        b" /Requirements [ << /Type /Requirement /S /EnableJavaScripts >> ]",
        {},
    )
    assert process_document(ok).strict
    bad = _doc_catalog(
        b" /Requirements [ << /Type /Requirement >> ]",  # missing /S
        {},
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_collection_schema_fields_and_sort():
    ok = _doc_catalog(
        b" /Collection << /Type /Collection /View /D"
        b" /Schema << /Type /CollectionSchema"
        b" /name << /Type /CollectionField /Subtype /S /N (Name) /O 1 >> >>"
        b" /Sort << /Type /CollectionSort /S /name /A true >> >>",
        {},
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # field missing its display name /N
    bad = _doc_catalog(
        b" /Collection << /Schema << /f << /Type /CollectionField"
        b" /Subtype /S >> >> >>",
        {},
    )
    assert "type.missing_required" in _codes(process_document(bad))
    # sort /S must be a name or array of names
    bad2 = _doc_catalog(
        b" /Collection << /Sort << /S (str) >> >>",
        {},
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_softmask_dict_in_extgstate():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /ExtGState /SMask << /Type /Mask /S /Luminosity"
                b" /G 6 0 R /BC [0] >> >>",
            ),
            6: _stream_obj(
                6,
                b"/Type /XObject /Subtype /Form /BBox [0 0 1 1]",
                b"",
            ),
        },
        page_extra=b" /Resources << /ExtGState << /G1 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments.get("6.0") == "xobject_form"
    # /None (name form) still accepted
    ok2 = _doc(
        {5: _obj(5, b"<< /Type /ExtGState /SMask /None >>")},
        page_extra=b" /Resources << /ExtGState << /G1 5 0 R >> >>",
    )
    assert process_document(ok2).strict
    # missing required /G
    bad = _doc(
        {5: _obj(5, b"<< /Type /ExtGState /SMask << /S /Alpha >> >>")},
        page_extra=b" /Resources << /ExtGState << /G1 5 0 R >> >>",
    )
    assert not process_document(bad).strict


def test_output_intents_typed():
    ok = _doc_catalog(
        b" /OutputIntents [ << /Type /OutputIntent /S /GTS_PDFA1"
        b" /OutputConditionIdentifier (sRGB) >> ]",
        {},
    )
    assert process_document(ok).strict
    bad = _doc_catalog(
        b" /OutputIntents [ << /Type /OutputIntent >> ]",  # missing /S
        {},
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_redact_caret_watermark_annots():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Redact /Rect [0 0 9 9]"
                b" /QuadPoints [0 0 9 0 0 9 9 9] /OverlayText (X)"
                b" /Repeat true /IC [1 0 0] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /Caret /Rect [0 0 5 5]"
                b" /RD [1 1 1 1] /Sy /P >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Annot /Subtype /Watermark /Rect [0 0 5 5]"
                b" /FixedPrint << /Type /FixedPrint /H 0.5 /V 0.5 >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R 6 0 R 7 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "annot_redact"
    assert r.type_assignments["6.0"] == "annot_caret"
    assert r.type_assignments["7.0"] == "annot_watermark"
    # FixedPrint requires its /Type
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Watermark /Rect [0 0 5 5]"
                b" /FixedPrint << /H 0.5 >> >>",
            )
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad).strict


# --- round-3c additions: transparency groups / struct content refs /
#     perms / web capture / nav nodes / prepress / trapnet-printermark-3D ----


def test_transparency_group_on_page_and_form():
    blob = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Form /BBox [0 0 1 1]"
                b" /Group << /Type /Group /S /Transparency /CS /DeviceRGB"
                b" /I true /K false >>",
                b"",
            ),
        },
        page_extra=(
            b" /Resources << /XObject << /X1 5 0 R >> >>"
            b" /Group << /S /Transparency >>"
        ),
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments.get("5.0") == "xobject_form"
    # /S must be /Transparency exactly
    bad = _doc({}, page_extra=b" /Group << /S /Opacity >>")
    assert "type.mismatch" in _codes(process_document(bad))
    # missing required /S
    bad2 = _doc({}, page_extra=b" /Group << /Type /Group >>")
    assert "type.missing_required" in _codes(process_document(bad2))


def test_structelem_mcr_objr_kids():
    blob = _doc_catalog(
        b" /StructTreeRoot 8 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /StructElem /S /P /P 8 0 R"
                b" /K [ 6 0 R 7 0 R 0 ] >>",
            ),
            6: _obj(6, b"<< /Type /MCR /MCID 2 /Pg 3 0 R >>"),
            7: _obj(7, b"<< /Type /OBJR /Obj 4 0 R >>"),
            8: _obj(8, b"<< /Type /StructTreeRoot /K 5 0 R >>"),
        },
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "mcr"
    assert r.type_assignments["7.0"] == "objr"
    # MCR without its required MCID
    bad = _doc_catalog(
        b" /StructTreeRoot 8 0 R",
        {
            5: _obj(5, b"<< /Type /StructElem /S /P /P 8 0 R /K [6 0 R] >>"),
            6: _obj(6, b"<< /Type /MCR /Pg 3 0 R >>"),
            8: _obj(8, b"<< /Type /StructTreeRoot /K 5 0 R >>"),
        },
    )
    assert "type.missing_required" in _codes(process_document(bad))
    # OBJR without its required /Obj
    bad2 = _doc_catalog(
        b" /StructTreeRoot 8 0 R",
        {
            5: _obj(5, b"<< /Type /StructElem /S /P /P 8 0 R /K [6 0 R] >>"),
            6: _obj(6, b"<< /Type /OBJR >>"),
            8: _obj(8, b"<< /Type /StructTreeRoot /K 5 0 R >>"),
        },
    )
    assert "type.missing_required" in _codes(process_document(bad2))


def test_perms_and_webcapture_info():
    ok = _doc_catalog(
        b" /Perms << >> /SpiderInfo << /V 1.0"
        b" /C [ << /URL (https://ex.org/) /L 1 >> ] >>",
        {},
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # SpiderInfo requires /V
    bad = _doc_catalog(b" /SpiderInfo << /C [] >>", {})
    assert "type.missing_required" in _codes(process_document(bad))
    # a capture command requires its /URL
    bad2 = _doc_catalog(
        b" /SpiderInfo << /V 1.0 /C [ << /L 1 >> ] >>", {}
    )
    assert not process_document(bad2).strict


def test_nav_node_chain_on_page():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /NavNode"
                b" /NA << /S /GoTo /D [3 0 R /Fit] >>"
                b" /Next 6 0 R /Dur 2 >>",
            ),
            6: _obj(6, b"<< /Type /NavNode /Prev 5 0 R >>"),
        },
        page_extra=b" /PresSteps 5 0 R",
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "nav_node"
    assert r.type_assignments["6.0"] == "nav_node"
    # /Dur must be a number
    bad = _doc(
        {5: _obj(5, b"<< /Type /NavNode /Dur (two) >>")},
        page_extra=b" /PresSteps 5 0 R",
    )
    assert "type.mismatch" in _codes(process_document(bad))


def test_box_color_info_and_separation_info():
    blob = _doc(
        {},
        page_extra=(
            b" /BoxColorInfo << /CropBox << /C [0 1 0] /W 2 /S /S"
            b" /D [3 1] >> >>"
            b" /SeparationInfo << /Pages [3 0 R]"
            b" /DeviceColorant /Cyan >>"
        ),
    )
    r = process_document(blob)
    assert r.strict, r.errors_as_rows()
    # SeparationInfo requires /Pages and /DeviceColorant
    bad = _doc({}, page_extra=b" /SeparationInfo << /Pages [3 0 R] >>")
    assert "type.missing_required" in _codes(process_document(bad))
    # box style /W must be a number
    bad2 = _doc(
        {}, page_extra=b" /BoxColorInfo << /TrimBox << /W (thick) >> >>"
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_trapnet_printermark_3d_annots():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /TrapNet /Rect [0 0 9 9]"
                b" /LastModified (D:20240101) /AnnotStates [/N]"
                b" /FontFauxing [] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /PrinterMark /Rect [0 0 9 9]"
                b" /MN /ColorBar >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Annot /Subtype /3D /Rect [0 0 9 9]"
                b" /3DD 8 0 R /3DI true /3DB [0 0 9 9] >>",
            ),
            8: _stream_obj(8, b"/Type /3D /Subtype /U3D", b"u3d-bytes"),
        },
        page_extra=b" /Annots [5 0 R 6 0 R 7 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "annot_trapnet"
    assert r.type_assignments["6.0"] == "annot_printermark"
    assert r.type_assignments["7.0"] == "annot_3d"
    # 3D annotation requires its /3DD artwork
    bad = _doc(
        {5: _obj(5, b"<< /Type /Annot /Subtype /3D /Rect [0 0 9 9] >>")},
        page_extra=b" /Annots [5 0 R]",
    )
    assert "type.missing_required" in _codes(process_document(bad))


# --- round-3d additions: remaining action subtypes ---------------------------


def test_form_actions_discriminate_and_require():
    ok = _doc_catalog(
        b" /OpenAction 5 0 R /AA << /WC 6 0 R >>",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /SubmitForm /F (https://x/post)"
                b" /Fields [(name)] /Flags 4 >>",
            ),
            6: _obj(6, b"<< /Type /Action /S /ResetForm /Fields [] >>"),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_submitform"
    assert r.type_assignments["6.0"] == "action_resetform"
    # SubmitForm requires /F
    bad = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /SubmitForm >>")},
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_importdata_hide_sound_actions():
    ok = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /ImportData /F (data.fdf)"
                b" /Next 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Action /S /Hide /T (field1) /H false"
                b" /Next 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Action /S /Sound /Sound 8 0 R /Volume 0.5"
                b" /Repeat true >>",
            ),
            8: _stream_obj(8, b"/R 8000 /C 1 /B 8", b"\x00\x01"),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_importdata"
    assert r.type_assignments["6.0"] == "action_hide"
    assert r.type_assignments["7.0"] == "action_sound"
    # Hide requires /T; Sound requires a stream /Sound
    bad = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /Hide /H true >>")},
    )
    assert "type.missing_required" in _codes(process_document(bad))
    bad2 = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /Sound /Sound (notastream) >>")},
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_movie_trans_thread_actions():
    ok = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /Movie /T (clip) /Operation /Play"
                b" /Next 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Action /S /Trans"
                b" /Trans << /Type /Trans /S /Dissolve /D 2 >>"
                b" /Next 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Action /S /Thread /D 0 /F (other.pdf) >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_movie"
    assert r.type_assignments["6.0"] == "action_trans"
    assert r.type_assignments["7.0"] == "action_thread"
    # Trans requires its transition dict; Thread requires /D
    bad = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /Trans >>")},
    )
    assert "type.missing_required" in _codes(process_document(bad))
    bad2 = _doc_catalog(
        b" /OpenAction 5 0 R",
        {5: _obj(5, b"<< /Type /Action /S /Thread /F (o.pdf) >>")},
    )
    assert "type.missing_required" in _codes(process_document(bad2))


def test_gotoe_setocgstate_goto3dview_actions():
    ok = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /GoToE /D [0 /Fit]"
                b" /T << /R /C /N (child) >> /Next 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Action /S /SetOCGState"
                b" /State [/ON 7 0 R /Toggle] /PreserveRB false"
                b" /Next 8 0 R >>",
            ),
            7: _obj(7, b"<< /Type /OCG /Name (layer) >>"),
            8: _obj(
                8,
                b"<< /Type /Action /S /GoTo3DView /TA 9 0 R /V /F >>",
            ),
            9: _obj(
                9,
                b"<< /Type /Annot /Subtype /3D /Rect [0 0 9 9]"
                b" /3DD << /Type /3D >> >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "action_gotoe"
    assert r.type_assignments["6.0"] == "action_setocgstate"
    assert r.type_assignments["8.0"] == "action_goto3dview"
    # GoToE requires /D; SetOCGState requires /State; GoTo3DView both
    for body in (
        b"<< /Type /Action /S /GoToE >>",
        b"<< /Type /Action /S /SetOCGState >>",
        b"<< /Type /Action /S /GoTo3DView /TA 1 0 R >>",
    ):
        bad = _doc_catalog(b" /OpenAction 5 0 R", {5: _obj(5, body)})
        assert "type.missing_required" in _codes(process_document(bad))


# --- round-3e additions: sound stream / movie activation / Type3 fonts /
#     PieceInfo ---------------------------------------------------------------


def test_sound_stream_typed_in_annot_and_action():
    blob = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Sound /Rect [0 0 9 9]"
                b" /Sound 6 0 R >>",
            ),
            6: _stream_obj(6, b"/Type /Sound /R 8000 /C 1 /B 8", b"\x00"),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(blob, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "sound_stream"
    # missing required sampling rate /R
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Sound /Rect [0 0 9 9]"
                b" /Sound 6 0 R >>",
            ),
            6: _stream_obj(6, b"/Type /Sound /C 1", b"\x00"),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_movie_activation_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Movie /Rect [0 0 9 9]"
                b" /Movie << /F (m.avi) >>"
                b" /A << /Rate 1 /Mode /Once /FWScale [1 2]"
                b" /ShowControls true >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # /A true (boolean form) still accepted
    ok2 = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Movie /Rect [0 0 9 9]"
                b" /Movie << /F (m.avi) >> /A true >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert process_document(ok2).strict
    # FWScale must be a 2-integer tuple
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Movie /Rect [0 0 9 9]"
                b" /Movie << /F (m.avi) >> /A << /FWScale [1] >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert "type.mismatch" in _codes(process_document(bad))


def test_font_type3_discriminates_and_requires():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10]"
                b" /FontMatrix [0.001 0 0 0.001 0 0]"
                b" /CharProcs << /a 6 0 R >>"
                b" /Encoding << /Differences [97 /a] >>"
                b" /FirstChar 97 /LastChar 97 /Widths [500] >>",
            ),
            6: _stream_obj(6, b"", b"0 0 d0"),
        },
        page_extra=b" /Resources << /Font << /F3 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "font_type3"
    # missing CharProcs/FontMatrix must fail the typed path
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10]"
                b" /FirstChar 97 /LastChar 97 /Widths [500]"
                b" /Encoding /WinAnsiEncoding >>",
            ),
        },
        page_extra=b" /Resources << /Font << /F3 5 0 R >> >>",
    )
    assert not process_document(bad).strict


def test_piece_info_entries_typed():
    ok = _doc(
        {},
        page_extra=(
            b" /PieceInfo << /MyApp << /LastModified (D:20240101)"
            b" /Private (x) >> >>"
        ),
    )
    assert process_document(ok).strict
    # every piece entry requires /LastModified
    bad = _doc(
        {},
        page_extra=b" /PieceInfo << /MyApp << /Private (x) >> >>",
    )
    assert "type.missing_required" in _codes(process_document(bad))


# --- round-3f additions: OCG usage / DSS+VRI / OPI ---------------------------


def test_ocg_usage_typed():
    ok = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D << /Order [5 0 R] >> >>",
        {
            5: _obj(
                5,
                b"<< /Type /OCG /Name (layer)"
                b" /Usage << /View << /ViewState /ON >>"
                b" /Print << /PrintState /ON >> >> >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "ocg"
    # View usage requires /ViewState
    bad = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D << >> >>",
        {
            5: _obj(
                5,
                b"<< /Type /OCG /Name (l) /Usage << /View << >> >> >>",
            ),
        },
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_dss_and_vri_typed():
    ok = _doc_catalog(
        b" /DSS 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /DSS /Certs [6 0 R]"
                b" /VRI << /A1B2 << /Type /VRI /Cert [6 0 R] >> >> >>",
            ),
            6: _stream_obj(6, b"", b"\x30\x82"),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "dss"
    # Certs must be an array of streams
    bad = _doc_catalog(
        b" /DSS 5 0 R",
        {5: _obj(5, b"<< /Type /DSS /Certs [(notastream)] >>")},
    )
    assert "type.mismatch" in _codes(process_document(bad))


def test_opi_20_typed_in_image_xobject():
    ok = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
                b" /ColorSpace /DeviceGray /BitsPerComponent 8"
                b" /OPI << /2.0 << /Type /OPI /Version 2.0"
                b" /F (proxy.tif) /CropRect [0 0 2 2] >> >>",
                b"\x00\x01\x02\x03",
            ),
        },
        page_extra=b" /Resources << /XObject << /Im 5 0 R >> >>",
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # OPI 2.0 requires /Version and /F
    bad = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
                b" /ColorSpace /DeviceGray /BitsPerComponent 8"
                b" /OPI << /2.0 << /Type /OPI /Version 2.0 >> >>",
                b"\x00\x01\x02\x03",
            ),
        },
        page_extra=b" /Resources << /XObject << /Im 5 0 R >> >>",
    )
    assert "type.missing_required" in _codes(process_document(bad))


# --- round-3g additions: GoToE targets / thread info --------------------------


def test_gotoe_target_chain_typed():
    ok = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /GoToE /D [0 /Fit]"
                b" /T << /R /C /N (child)"
                b" /T << /R /P /P 0 /A (att1) >> >> >>",
            ),
        },
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # target /R is required and must be /P or /C
    bad = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /GoToE /D [0 /Fit]"
                b" /T << /N (child) >> >>",
            ),
        },
    )
    assert "type.missing_required" in _codes(process_document(bad))
    bad2 = _doc_catalog(
        b" /OpenAction 5 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /Action /S /GoToE /D [0 /Fit]"
                b" /T << /R /X >> >>",
            ),
        },
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_thread_info_typed():
    ok = _doc_catalog(
        b" /Threads [5 0 R]",
        {
            5: _obj(
                5,
                b"<< /Type /Thread /F 6 0 R"
                b" /I << /Title (story) /Author (a) >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Bead /T 5 0 R /N 6 0 R /V 6 0 R /P 3 0 R"
                b" /R [0 0 9 9] >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "thread"
    # info /Title must be a string
    bad = _doc_catalog(
        b" /Threads [5 0 R]",
        {
            5: _obj(
                5,
                b"<< /Type /Thread /F 6 0 R /I << /Title /NotAString >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Bead /T 5 0 R /N 6 0 R /V 6 0 R /P 3 0 R"
                b" /R [0 0 9 9] >>",
            ),
        },
    )
    assert "type.mismatch" in _codes(process_document(bad))


# --- round-3h additions: sig refs / CMap streams / halftones / play params ---


def test_sig_reference_docmdp_chain_typed():
    ok = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reference [<< /Type /SigRef /TransformMethod /DocMDP"
                b" /TransformParams << /Type /TransformParams /P 2 /V /1.2 >>"
                b" /DigestMethod /SHA256 >>] >>",
            ),
        },
    )
    r = process_document(ok)
    assert r.strict, r.errors_as_rows()
    # /TransformMethod is required on every reference entry
    bad = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reference [<< /Type /SigRef >>] >>",
            ),
        },
    )
    assert "type.missing_required" in _codes(process_document(bad))
    # DocMDP /P outside {1,2,3} is a type error, not a warning
    bad2 = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reference [<< /TransformMethod /DocMDP"
                b" /TransformParams << /P 5 >> >>] >>",
            ),
        },
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_sig_reference_fieldmdp_requires_action():
    bad = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reference [<< /TransformMethod /FieldMDP"
                b" /TransformParams << /Fields [(T1)] >> >>] >>",
            ),
        },
    )
    # /Fields rules out the closed DocMDP/UR param classes; the missing
    # required /Action rules out FieldMDP — no union alternative matches
    assert "type.mismatch" in _codes(process_document(bad))
    ok = _doc_catalog(
        b" /AcroForm << /Fields [5 0 R] /SigFlags 3 >>",
        {
            5: _obj(
                5,
                b"<< /FT /Sig /T (Sig1) /V 6 0 R /Subtype /Widget"
                b" /Rect [0 0 0 0] /P 3 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Sig /Filter /Adobe.PPKLite"
                b" /Contents <DEADBEEF> /ByteRange [0 840 960 240]"
                b" /Reference [<< /TransformMethod /FieldMDP"
                b" /TransformParams << /Action /Include /Fields [(T1)] >>"
                b" >>] >>",
            ),
        },
    )
    assert process_document(ok).strict, process_document(ok).errors_as_rows()


def test_type0_embedded_cmap_stream_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /AB+Mincho"
                b" /Encoding 8 0 R /DescendantFonts [6 0 R] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AB+Mincho"
                b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                b" /Supplement 7 >> /FontDescriptor 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /FontDescriptor /FontName /AB+Mincho /Flags 4"
                b" /ItalicAngle 0 /Ascent 880 /Descent -120 /StemV 50"
                b" /FontBBox [0 -120 1000 880] >>",
            ),
            8: _stream_obj(
                8,
                b"/Type /CMap /CMapName /Custom-H /WMode 0"
                b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                b" /Supplement 7 >>",
                b"%cmap body",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["8.0"] == "cmap_stream"
    # embedded CMap without /CMapName is a typed error
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /AB+Mincho"
                b" /Encoding 8 0 R /DescendantFonts [6 0 R] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AB+Mincho"
                b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                b" /Supplement 7 >> /FontDescriptor 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /FontDescriptor /FontName /AB+Mincho /Flags 4"
                b" /ItalicAngle 0 /Ascent 880 /Descent -120 /StemV 50"
                b" /FontBBox [0 -120 1000 880] >>",
            ),
            8: _stream_obj(
                8,
                b"/Type /CMap /WMode 0"
                b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                b" /Supplement 7 >>",
                b"%cmap body",
            ),
        },
        page_extra=b" /Resources << /Font << /F1 5 0 R >> >>",
    )
    assert "type.missing_required" in _codes(process_document(bad))


def test_halftone_type1_in_extgstate_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /ExtGState /HT 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Halftone /HalftoneType 1 /Frequency 60"
                b" /Angle 45 /SpotFunction /Round"
                b" /AccurateScreens true >>",
            ),
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "halftone_type1"
    # missing required /Frequency → no alternative matches
    bad = _doc(
        {
            5: _obj(5, b"<< /Type /ExtGState /HT 6 0 R >>"),
            6: _obj(
                6,
                b"<< /Type /Halftone /HalftoneType 1 /Angle 45"
                b" /SpotFunction /Round >>",
            ),
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert not process_document(bad).strict
    # nonexistent HalftoneType 3 matches no alternative
    bad2 = _doc(
        {
            5: _obj(5, b"<< /Type /ExtGState /HT 6 0 R >>"),
            6: _obj(
                6,
                b"<< /Type /Halftone /HalftoneType 3 /Frequency 60"
                b" /Angle 45 /SpotFunction /Round >>",
            ),
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_halftone_type5_requires_default():
    ok = _doc(
        {
            5: _obj(5, b"<< /Type /ExtGState /HT 6 0 R >>"),
            6: _obj(
                6,
                b"<< /Type /Halftone /HalftoneType 5"
                b" /Cyan << /HalftoneType 1 /Frequency 60 /Angle 15"
                b" /SpotFunction /Round >>"
                b" /Default << /HalftoneType 1 /Frequency 60 /Angle 45"
                b" /SpotFunction /Round >> >>",
            ),
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "halftone_type5"
    bad = _doc(
        {
            5: _obj(5, b"<< /Type /ExtGState /HT 6 0 R >>"),
            6: _obj(6, b"<< /Type /Halftone /HalftoneType 5 >>"),
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert not process_document(bad).strict


def test_extgstate_transfer_function_typed():
    # /TR may be /Identity; /TR2 additionally /Default; a string is an error
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /ExtGState /TR /Identity /TR2 /Default"
                b" /BG2 /Default >>",
            )
        },
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert process_document(ok).strict
    bad = _doc(
        {5: _obj(5, b"<< /Type /ExtGState /TR (linear) >>")},
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert "type.mismatch" in _codes(process_document(bad))
    # /BG (without the 2) does NOT admit /Default
    bad2 = _doc(
        {5: _obj(5, b"<< /Type /ExtGState /BG /Default >>")},
        page_extra=b" /Resources << /ExtGState << /GS1 5 0 R >> >>",
    )
    assert "type.mismatch" in _codes(process_document(bad2))


def test_media_play_params_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Screen /Rect [0 0 100 100]"
                b" /T (scr) /A 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Action /S /Rendition /OP 0 /R 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Rendition /S /MR /N (clip)"
                b" /C << /Type /MediaClip /S /MCD /N (m)"
                b" /CT (video\\057mp4) >>"
                b" /P << /Type /MediaPlayParams"
                b" /MH << /V 75 /C true /F 2 /A true /RC 0 >> >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.strict, r.errors_as_rows()
    assert r.type_assignments["7.0"] == "rendition"
    # volume must be an integer
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Screen /Rect [0 0 100 100]"
                b" /T (scr) /A 6 0 R >>",
            ),
            6: _obj(6, b"<< /Type /Action /S /Rendition /OP 0 /R 7 0 R >>"),
            7: _obj(
                7,
                b"<< /Type /Rendition /S /MR"
                b" /P << /MH << /V (loud) >> >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert "type.mismatch" in _codes(process_document(bad))


# --- measurement viewports, legal attestation, URI base [§12.9/12.8.5] -----


def test_viewport_measure_number_format_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Viewport /BBox [72 72 540 720] "
                b"/Measure 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Measure /Subtype /RL /R (1 in = 40 ft) "
                b"/X [ << /Type /NumberFormat /U (ft) /C 40.0 >> ] "
                b"/D [ << /Type /NumberFormat /U (ft) /C 1.0 >> ] "
                b"/A [ << /Type /NumberFormat /U (sq ft) /C 1600.0 >> ] "
                b">>",
            ),
        },
        page_extra=b" /VP [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "viewport"
    assert r.type_assignments["6.0"] == "measure_rl"


def test_viewport_requires_bbox():
    bad = _doc(
        {5: _obj(5, b"<< /Type /Viewport /Name (no bbox) >>")},
        page_extra=b" /VP [5 0 R]",
    )
    r = process_document(bad, want_objects=True)
    assert not r.strict
    assert any("type." in c for c in _codes(r))


def test_measure_requires_axis_formats():
    # /X missing → measure_rl can't match
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Viewport /BBox [0 0 10 10] /Measure 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Measure /Subtype /RL /R (scale) "
                b"/D [ << /U (ft) /C 1.0 >> ] "
                b"/A [ << /U (sq ft) /C 1.0 >> ] >>",
            ),
        },
        page_extra=b" /VP [5 0 R]",
    )
    r = process_document(bad, want_objects=True)
    assert not r.strict


def test_number_format_requires_unit_and_factor():
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Viewport /BBox [0 0 10 10] /Measure 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Measure /Subtype /RL /R (scale) "
                b"/X [ << /Type /NumberFormat /U (ft) >> ] "
                b"/D [ << /U (ft) /C 1.0 >> ] "
                b"/A [ << /U (a) /C 1.0 >> ] >>",
            ),
        },
        page_extra=b" /VP [5 0 R]",
    )
    r = process_document(bad, want_objects=True)
    assert not r.strict  # /C missing from the X number format


def test_legal_and_uri_dict_typed():
    ok = _doc_catalog(
        b" /URI << /Type /URI /Base (https://ex.org/) >>"
        b" /Legal << /JavaScriptActions 2 /Annotations 1"
        b" /Attestation (counts verified) >>",
        {},
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    # non-integer counter breaks strict
    bad = _doc_catalog(
        b" /Legal << /JavaScriptActions (two) >>",
        {},
    )
    rb = process_document(bad, want_objects=True)
    assert not rb.strict


def test_line_annot_measure_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Line /Rect [0 0 50 10] "
                b"/L [0 5 50 5] /Measure 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Measure /Subtype /RL /R (1:100) "
                b"/X [ << /U (m) /C 1.0 >> ] "
                b"/D [ << /U (m) /C 1.0 >> ] "
                b"/A [ << /U (sq m) /C 1.0 >> ] >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "measure_rl"


# --- round-3j: 3D artwork, media players, capture commands, alt images ------


def test_threed_stream_views_and_activation_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /3D /Rect [0 0 99 99]"
                b" /3DD 6 0 R /3DV 7 0 R"
                b" /3DA << /A /PO /AIS /L /TB true >> >>",
            ),
            6: _stream_obj(
                6,
                b"/Type /3D /Subtype /U3D /VA [7 0 R] /DV 7 0 R",
                b"u3d-payload",
            ),
            7: _obj(
                7,
                b"<< /Type /3DView /XN (Default) /IN (v0) /MS /M"
                b" /C2W [1 0 0 0 1 0 0 0 1 0 0 0] /CO 42.5 >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "threed_stream"
    assert r.type_assignments["7.0"] == "threed_view"
    # a 3D view requires its external name /XN
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /3D /Rect [0 0 9 9]"
                b" /3DD 6 0 R >>",
            ),
            6: _stream_obj(
                6, b"/Type /3D /Subtype /U3D /VA [7 0 R]", b"x"
            ),
            7: _obj(7, b"<< /Type /3DView /IN (no-xn) >>"),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad).strict
    # the 3D stream requires a /Subtype (U3D or PRC)
    bad2 = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /3D /Rect [0 0 9 9]"
                b" /3DD 6 0 R >>",
            ),
            6: _stream_obj(6, b"/Type /3D", b"x"),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad2).strict


def test_media_players_software_identifier_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Screen /Rect [0 0 9 9]"
                b" /A << /S /Rendition /OP 0 /R 6 0 R >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Rendition /S /MR /N (clip)"
                b" /C << /Type /MediaClip /S /MCD /D (m.mp4) >>"
                b" /P 7 0 R >>",
            ),
            7: _obj(
                7,
                b"<< /Type /MediaPlayParams /PL 8 0 R"
                b" /BE << /V 75 /A true >> >>",
            ),
            8: _obj(
                8,
                b"<< /Type /MediaPlayers /MU [ << /Type /MediaPlayerInfo"
                b" /PID << /Type /SoftwareIdentifier"
                b" /U (vnd.adobe.swname:AAPL_QuickTime)"
                b" /L [5 0 0] /OS [(MACOS)] >> >> ] >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["8.0"] == "media_players"
    # a player info requires its /PID software identifier
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Screen /Rect [0 0 9 9]"
                b" /A << /S /Rendition /OP 0 /R 6 0 R >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Rendition /S /MR"
                b" /P << /Type /MediaPlayParams /PL << /Type /MediaPlayers"
                b" /MU [ << /Type /MediaPlayerInfo >> ] >> >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad).strict


def test_alternate_images_typed():
    ok = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
                b" /BitsPerComponent 8 /ColorSpace /DeviceGray"
                b" /Alternates [ << /Image 6 0 R"
                b" /DefaultForPrinting true >> ]",
                b"\x00\x01\x02\x03",
            ),
            6: _stream_obj(
                6,
                b"/Type /XObject /Subtype /Image /Width 4 /Height 4"
                b" /BitsPerComponent 8 /ColorSpace /DeviceGray",
                bytes(16),
            ),
        },
        page_extra=b" /Resources << /XObject << /Im0 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "xobject_image"
    # an alternate entry requires its /Image stream
    bad = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Image /Width 2 /Height 2"
                b" /Alternates [ << /DefaultForPrinting true >> ]",
                b"\x00",
            ),
        },
        page_extra=b" /Resources << /XObject << /Im0 5 0 R >> >>",
    )
    assert not process_document(bad).strict


# --- border styles / effects [PDF17 §12.5.4] --------------------------------


def test_border_style_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
                b" /BS << /Type /Border /W 2 /S /D /D [3 2] >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    # /W must be a number, /D a dash array of numbers
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Link /Rect [0 0 9 9]"
                b" /BS << /W (two) >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    rb = process_document(bad)
    assert "type.mismatch" in _codes(rb)
    assert not rb.strict


def test_border_effect_typed():
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Square /Rect [0 0 9 9]"
                b" /BE << /S /C /I 1 >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok)
    assert r.valid and r.strict, r.errors_as_rows()
    # /S is restricted to S (solid) | C (cloudy)
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Square /Rect [0 0 9 9]"
                b" /BE << /S /X >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad).strict


# --- media selection criteria / durations / offsets [PDF17 §13.2] ----------


def _screen_rendition(rendition_body: bytes) -> bytes:
    return _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Screen /Rect [0 0 9 9]"
                b" /A << /S /Rendition /OP 0 /R 6 0 R >> >>",
            ),
            6: _obj(6, rendition_body),
        },
        page_extra=b" /Annots [5 0 R]",
    )


def test_media_criteria_chain_typed():
    ok = _screen_rendition(
        b"<< /Type /Rendition /S /MR /N (clip)"
        b" /C << /Type /MediaClip /S /MCD /D (m.mp4) >>"
        b" /BE << /C << /Type /MediaCriteria /A true /R 4800"
        b" /D << /Type /MinBitDepth /V 8 >>"
        b" /Z << /Type /MinScreenSize /V [640 480] >>"
        b" /L [(en-US)] /P [/1.5 /1.7] >> >> >>"
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "rendition"
    # a MinBitDepth dict requires its /V
    bad = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /MH << /C << /Type /MediaCriteria"
        b" /D << /Type /MinBitDepth >> >> >> >>"
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    assert not rb.strict


def test_media_duration_and_offset_typed():
    ok = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /C << /Type /MediaClip /S /MCS /D (m.mp4)"
        b" /BE << /B << /Type /MediaOffset /S /T"
        b" /T << /Type /Timespan /S /S /V 1.5 >> >>"
        b" /E << /Type /MediaOffset /S /F /F 240 >> >> >>"
        b" /P << /Type /MediaPlayParams"
        b" /BE << /D << /Type /MediaDuration /S /T"
        b" /T << /Type /Timespan /S /S /V 5.5 >> >> >> >> >>"
    )
    r = process_document(ok)
    assert r.valid and r.strict, r.errors_as_rows()
    # an offset discriminator outside T|F|M is a mismatch
    bad = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /C << /Type /MediaClip /S /MCS"
        b" /BE << /B << /Type /MediaOffset /S /X >> >> >>"
        b" >>"
    )
    assert not process_document(bad).strict
    # a timespan's /V must be a number
    bad2 = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /P << /Type /MediaPlayParams"
        b" /BE << /D << /Type /MediaDuration /S /T"
        b" /T << /Type /Timespan /S /S /V (five) >> >> >> >> >>"
    )
    rb2 = process_document(bad2)
    assert "type.mismatch" in _codes(rb2)


def test_media_clip_permissions_typed():
    ok = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /C << /Type /MediaClip /S /MCD /D (m.mp4)"
        b" /P << /Type /MediaPermissions /TF (TEMPACCESS) >>"
        b" /BE << /BU (http://base/) >> >> >>"
    )
    r = process_document(ok)
    assert r.valid and r.strict, r.errors_as_rows()
    # /TF is a string (table 275), not a name
    bad = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /C << /Type /MediaClip /S /MCD"
        b" /P << /Type /MediaPermissions /TF /TEMPACCESS >> >> >>"
    )
    assert not process_document(bad).strict


def test_media_screen_params_floating_window_typed():
    ok = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /SP << /Type /MediaScreenParams"
        b" /BE << /W 0 /B [1.0 1.0 1.0] /O 0.5 /M 0"
        b" /F << /Type /FWParams /D [320 240] /RT 0 /P 4"
        b" /T true /UC true /R 1 /TT [(en) (Clip)] >> >> >> >>"
    )
    r = process_document(ok)
    assert r.valid and r.strict, r.errors_as_rows()
    # a floating window requires its /D [width height]
    bad = _screen_rendition(
        b"<< /Type /Rendition /S /MR"
        b" /SP << /Type /MediaScreenParams"
        b" /BE << /F << /Type /FWParams >> >> >> >>"
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)


# --- reference XObjects [PDF17 §8.10.4] -------------------------------------


def test_ref_xobject_typed():
    ok = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Form /BBox [0 0 10 10]"
                b" /Ref << /F (other.pdf) /Page 0 /ID [(a) (b)] >>",
                b"0 0 10 10 re f",
            ),
        },
        page_extra=b" /Resources << /XObject << /Fm0 5 0 R >> >>",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "xobject_form"
    # /Page is required (int index or named destination string)
    bad = _doc(
        {
            5: _stream_obj(
                5,
                b"/Type /XObject /Subtype /Form /BBox [0 0 10 10]"
                b" /Ref << /F (other.pdf) >>",
                b"",
            ),
        },
        page_extra=b" /Resources << /XObject << /Fm0 5 0 R >> >>",
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)


# --- collection items: rest-typed map dicts [PDF17 §7.11.6] -----------------


def _attachment_doc(filespec_extra: bytes) -> bytes:
    return _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /FileAttachment /Rect [0 0 9 9]"
                b" /FS 6 0 R >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Filespec /F (a.txt)" + filespec_extra + b" >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )


def test_collection_item_rest_typed():
    # keys other than /Type are schema field names; values may be string,
    # number, or a subitem dict carrying a sort prefix
    ok = _attachment_doc(
        b" /CI << /Type /CollectionItem /Title (doc) /Size 123"
        b" /Order << /Type /CollectionSubitem /D 5 /P (No. ) >> >>"
    )
    r = process_document(ok)
    assert r.valid and r.strict, r.errors_as_rows()
    # an array-valued field is outside the rest union
    bad = _attachment_doc(b" /CI << /Type /CollectionItem /Tags [1 2] >>")
    rb = process_document(bad)
    assert "type.mismatch" in _codes(rb)
    assert not rb.strict
    # a subitem's /D must be string or number
    bad2 = _attachment_doc(
        b" /CI << /Type /CollectionItem"
        b" /Order << /Type /CollectionSubitem /D [1] >> >>"
    )
    assert not process_document(bad2).strict


# --- web capture content sets [PDF17 §14.10.4] -------------------------------


def test_webcapture_pageset_typed():
    ok = _doc_catalog(
        b" /Names << /IDS 5 0 R >>",
        {
            5: _obj(5, b"<< /Names [(d1) 6 0 R] >>"),
            6: _obj(
                6,
                b"<< /Type /SpiderContentSet /S /SPS /ID (md5digest)"
                b" /O [3 0 R] /SI << /AU (http://example.com/) >>"
                b" /T (Example) /TS (D:20260101000000Z) >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "webcapture_pageset"
    # source information is required
    bad = _doc_catalog(
        b" /Names << /IDS 5 0 R >>",
        {
            5: _obj(5, b"<< /Names [(d1) 6 0 R] >>"),
            6: _obj(
                6,
                b"<< /Type /SpiderContentSet /S /SPS /ID (x) /O [3 0 R] >>",
            ),
        },
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    assert not rb.strict


def test_webcapture_imageset_and_url_alias_typed():
    ok = _doc_catalog(
        b" /Names << /URLS 5 0 R >>",
        {
            5: _obj(5, b"<< /Names [(http://e.com/i.gif) 6 0 R] >>"),
            6: _obj(
                6,
                b"<< /Type /SpiderContentSet /S /SIS /ID (digest)"
                b" /O [7 0 R] /R 1"
                b" /SI [ << /AU << /U (http://e.com/i.gif)"
                b" /C [[(http://e.com/old.gif)]] >> /S 0 >> ] >>",
            ),
            7: _stream_obj(
                7,
                b"/Type /XObject /Subtype /Image /Width 1 /Height 1"
                b" /BitsPerComponent 8 /ColorSpace /DeviceGray",
                b"\x00",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "webcapture_imageset"
    # a url_alias requires its /U
    bad = _doc_catalog(
        b" /Names << /URLS 5 0 R >>",
        {
            5: _obj(5, b"<< /Names [(u) 6 0 R] >>"),
            6: _obj(
                6,
                b"<< /Type /SpiderContentSet /S /SIS /ID (d) /O [] /R 1"
                b" /SI << /AU << /C [[(x)]] >> >> >>",
            ),
        },
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)


# --- structure attributes / PDF 2.0 associated files -------------------------


def test_struct_attr_typed():
    base = (
        b"<< /Type /StructElem /S /P /P 5 0 R /K 0 "
        b"/A %s >>"
    )
    tree = lambda a: _doc_catalog(  # noqa: E731
        b" /StructTreeRoot 5 0 R",
        {
            5: _obj(5, b"<< /Type /StructTreeRoot /K [6 0 R] >>"),
            6: _obj(6, base % a),
        },
    )
    # single attribute object, and array form with revision ints
    ok = tree(b"<< /O /Layout /SpaceBefore 12 >>")
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["6.0"] == "structelem"
    ok2 = tree(b"[ << /O /List /ListNumbering /Decimal >> 0 ]")
    assert process_document(ok2).strict
    # /O owner is required
    bad = tree(b"<< /SpaceBefore 12 >>")
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    assert not rb.strict


def test_associated_files_typed():
    ok = _doc_catalog(
        b" /AF [5 0 R]",
        {
            5: _obj(
                5,
                b"<< /Type /Filespec /F (invoice.xml) /UF (invoice.xml)"
                b" /AFRelationship /Data >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "filespec"
    # an /AF entry that is not a filespec is a mismatch
    bad = _doc_catalog(
        b" /AF [5 0 R]",
        {5: _obj(5, b"<< /Type /NotAFilespec >>")},
    )
    rb = process_document(bad)
    assert "type.mismatch" in _codes(rb)
    # /AFRelationship must be a name, not a string
    bad2 = _doc_catalog(
        b" /AF [5 0 R]",
        {5: _obj(5, b"<< /Type /Filespec /F (a) /AFRelationship (Data) >>")},
    )
    assert not process_document(bad2).strict


def test_pdf2_namespaces_and_dparts_typed():
    """PDF 2.0: structure namespaces on the struct tree and a document-
    parts tree partitioning the page sequence."""
    ok = _doc_catalog(
        b" /StructTreeRoot 5 0 R /DPartRoot 8 0 R",
        {
            5: _obj(
                5,
                b"<< /Type /StructTreeRoot /K [6 0 R]"
                b" /Namespaces [7 0 R] >>",
            ),
            6: _obj(
                6,
                b"<< /Type /StructElem /S /P /P 5 0 R /K 0 /NS 7 0 R"
                b" /PhoneticAlphabet /ipa /Phoneme (h@loU) >>",
            ),
            7: _obj(
                7,
                b"<< /Type /Namespace"
                b" /NS (http://iso.org/pdf2/ssn) >>",
            ),
            8: _obj(
                8,
                b"<< /Type /DPartRoot /DPartRootNode 9 0 R"
                b" /NodeNameList [/root /doc] /RecordLevel 1 >>",
            ),
            9: _obj(
                9,
                b"<< /Type /DPart /Parent 8 0 R /DParts [[10 0 R]] >>",
            ),
            10: _obj(
                10,
                b"<< /Type /DPart /Parent 9 0 R /Start 3 0 R /End 3 0 R"
                b" /DPM << /invoice (A-17) >> >>",
            ),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["7.0"] == "namespace"
    assert r.type_assignments["8.0"] == "dpart_root"
    assert r.type_assignments["10.0"] == "dpart"
    # a namespace requires its /NS string
    bad = _doc_catalog(
        b" /StructTreeRoot 5 0 R",
        {
            5: _obj(5, b"<< /Type /StructTreeRoot /Namespaces [6 0 R] >>"),
            6: _obj(6, b"<< /Type /Namespace >>"),
        },
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    # a DPartRoot requires its root node
    bad2 = _doc_catalog(
        b" /DPartRoot 5 0 R",
        {5: _obj(5, b"<< /Type /DPartRoot >>")},
    )
    assert not process_document(bad2).strict


def test_richmedia_annotation_typed():
    """RichMedia [ISO 32000-2 §13.7]: content with configurations and
    instances, activation/deactivation settings, asset name tree."""
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /RichMedia /Rect [0 0 320 240]"
                b" /RichMediaContent 6 0 R"
                b" /RichMediaSettings << /Type /RichMediaSettings"
                b" /Activation << /Type /RichMediaActivation /Condition /PO"
                b" /Presentation << /Type /RichMediaPresentation"
                b" /Style /Embedded /Toolbar false /NavigationPane false"
                b" /Transparent false /PassContextClick false >> >>"
                b" /Deactivation << /Type /RichMediaDeactivation"
                b" /Condition /PC >> >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /RichMediaContent"
                b" /Assets << /Names [(clip.mp4) 8 0 R] >>"
                b" /Configurations [7 0 R] >>",
            ),
            7: _obj(
                7,
                b"<< /Type /RichMediaConfiguration /Subtype /Video"
                b" /Name (main) /Instances [ << /Type /RichMediaInstance"
                b" /Subtype /Video /Asset 8 0 R"
                b" /Params << /Type /RichMediaParams /Binding /Background"
                b" /FlashVars (autoplay=0) >> >> ] >>",
            ),
            8: _obj(
                8,
                b"<< /Type /Filespec /F (clip.mp4) /UF (clip.mp4) >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "annot_richmedia"
    assert r.type_assignments["6.0"] == "richmedia_content"
    assert r.type_assignments["7.0"] == "richmedia_configuration"
    # content is required on the annotation
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /RichMedia"
                b" /Rect [0 0 9 9] >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    assert not rb.strict
    # an instance requires its /Subtype; activation condition is an enum
    bad2 = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /RichMedia /Rect [0 0 9 9]"
                b" /RichMediaContent << /Type /RichMediaContent"
                b" /Configurations [ << /Instances"
                b" [ << /Type /RichMediaInstance >> ] >> ] >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad2).strict
    bad3 = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /RichMedia /Rect [0 0 9 9]"
                b" /RichMediaContent << /Type /RichMediaContent"
                b" /Configurations [] >>"
                b" /RichMediaSettings << /Activation"
                b" << /Condition /NOPE >> >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R]",
    )
    assert not process_document(bad3).strict


def test_richmedia_execute_action_typed():
    """RichMediaExecute [ISO 32000-2 §12.6.4.17]: target annotation and
    command are required; the command's /C script name is required."""
    ok = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Widget /Rect [0 0 20 20]"
                b" /A << /Type /Action /S /RichMediaExecute /TA 6 0 R"
                b" /CMD << /Type /RichMediaCommand /C (play)"
                b" /A [true 2] >> >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /RichMedia /Rect [0 0 320 240]"
                b" /RichMediaContent << /Type /RichMediaContent"
                b" /Configurations [] >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R 6 0 R]",
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    # the command and its /C are required
    bad = _doc(
        {
            5: _obj(
                5,
                b"<< /Type /Annot /Subtype /Widget /Rect [0 0 20 20]"
                b" /A << /S /RichMediaExecute /TA 6 0 R"
                b" /CMD << /Type /RichMediaCommand >> >> >>",
            ),
            6: _obj(
                6,
                b"<< /Type /Annot /Subtype /RichMedia /Rect [0 0 9 9]"
                b" /RichMediaContent << /Configurations [] >> >>",
            ),
        },
        page_extra=b" /Annots [5 0 R 6 0 R]",
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    assert not rb.strict


def test_oc_usage_application_and_xfa_typed():
    """OC usage applications [PDF17 §8.11.4.4]: /Event and /Category are
    required; XFA packet arrays alternate (name-string, stream)."""
    ok = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D << /Name (cfg)"
        b" /AS [ << /Event /View /Category [/View] /OCGs [5 0 R] >> ] >> >>"
        b" /AcroForm << /Fields [] /XFA [(template) 6 0 R] >>",
        {
            5: _obj(5, b"<< /Type /OCG /Name (layer-1) >>"),
            6: _stream_obj(6, b"", b"<template/>"),
        },
    )
    r = process_document(ok, want_objects=True)
    assert r.valid and r.strict, r.errors_as_rows()
    assert r.type_assignments["5.0"] == "ocg"
    # a usage application without /Category is rejected
    bad = _doc_catalog(
        b" /OCProperties << /OCGs [5 0 R] /D <<"
        b" /AS [ << /Event /View >> ] >> >>",
        {5: _obj(5, b"<< /Type /OCG /Name (l) >>")},
    )
    rb = process_document(bad)
    assert "type.missing_required" in _codes(rb)
    # an XFA array with a non-string, non-stream member is a mismatch
    bad2 = _doc_catalog(
        b" /AcroForm << /Fields [] /XFA [(template) 42] >>",
        {},
    )
    assert not process_document(bad2).strict


# --- the union probe and the table itself ----------------------------------


def test_rejected_union_alternative_types_no_reference():
    """Picking a union alternative has no side effect: a reference inside
    an alternative that is then rejected is not checked against it. Here
    the /Indexed tuple fails on /x (not an int), so the content stream 4 0
    R it holds as the base space is typed by nothing but the page."""
    blob = _doc(
        {},
        page_extra=b" /Resources << /ColorSpace << /CS0 [/Indexed 4 0 R /x <00>] >> >>",
    )
    r = process_document(blob)
    mismatches = [e for e in r.errors_as_rows() if e["code"] == "type.mismatch"]
    assert [e["path"].rsplit("/", 1)[-1] for e in mismatches] == ["CS0"], mismatches
    assert mismatches[0]["msg"] == "no union alternative matched"


# sha256 of repr([(name, list(cd.entries.items()), cd.closed, cd.is_stream,
# cd.rest)]) over TYPEDEFS in table order: class order, each class's entry
# order and types, and its closed/is_stream/rest flags. A class's compiled
# check runs its entries in order, so a reordering can move assignments and
# messages.
_TYPEDEFS_SHA256 = "b26cd4fd9cf08331f749f537a79d9a07da1544a1209cdfb99c815f43427f1d41"


def test_typedefs_table_is_pinned():
    import hashlib

    from caraspark.pdfengine.typecheck import TYPEDEFS

    rows = [
        (name, list(cd.entries.items()), cd.closed, cd.is_stream, cd.rest)
        for name, cd in TYPEDEFS.items()
    ]
    assert len(rows) == 196
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == _TYPEDEFS_SHA256
