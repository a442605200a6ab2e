"""Pure-Python byte-level PDF engine (no Spark session; it reads only the
output column declaration from ``caraspark.schemas``).

Implements the computations of caradoc-org/caradoc — strict/relaxed COS
lexing and parsing, xref resolution, stream filters, object-stream explode,
reference-graph checks, structure type-checking, and text extraction — as
per-document functions that run inside Arrow batch UDFs (caraspark.extract).

Capability citations point at the public caradoc tree (SURVEY.md §0: the
/root/reference checkout was empty, so references are module paths recalled
from the public repo plus the LangSec'16 paper and ISO 32000-1; marked [P]).
Nothing here is a port: the reference is OCaml (ocamllex/ocamlyacc, one file
at a time); this is a from-scratch implementation of the same semantics.
"""

from caraspark.pdfengine.api import process_document  # noqa: F401
