"""RDF term model + vocabulary constants.

Terms are plain tuples (hashable, cheap — these are allocated in the
hot path of the per-document UDF):

    ('iri', value)
    ('bnode', label)                      # label is doc-scoped, e.g. 'b0'
    ('literal', lexical, lang, datatype)  # lang/datatype may be None

Mirrors RDF::URI / RDF::Node / RDF::Literal usage in the reference
(/root/reference/lib/rdf/rdfa/reader.rb:568-575, 1148-1257).
"""

from __future__ import annotations

IRI = "iri"
BNODE = "bnode"
LITERAL = "literal"


def iri(value: str):
    return (IRI, value)


def bnode(label: str):
    return (BNODE, label)


def literal(lexical: str, lang: str | None = None, datatype: str | None = None):
    # A language-tagged literal never also carries a datatype column here;
    # rdf:langString is implicit (matches N-Triples serialization rules).
    # RDF 1.1 literal identity: "x" IS "x"^^xsd:string — canonicalize to
    # the plain form so graph comparison and dedup treat them as one term
    # (RDF.rb does the same, which is why be_equivalent_graph passes on
    # mixed plain/xsd:string goldens).
    if datatype is not None:
        lang = None
        if datatype == XSD_STRING:
            datatype = None
    return (LITERAL, lexical, lang, datatype)


def is_iri(t) -> bool:
    return t is not None and t[0] == IRI


def is_resource(t) -> bool:
    return t is not None and t[0] in (IRI, BNODE)


# --- namespaces ---------------------------------------------------------
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
XHV_NS = "http://www.w3.org/1999/xhtml/vocab#"
RDFA_NS = "http://www.w3.org/ns/rdfa#"
XHTML_NS = "http://www.w3.org/1999/xhtml"
XML_NS = "http://www.w3.org/XML/1998/namespace"
DC_NS = "http://purl.org/dc/terms/"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_XMLLITERAL = RDF_NS + "XMLLiteral"
RDF_HTML = RDF_NS + "HTML"
RDF_LANGSTRING = RDF_NS + "langString"

RDFS_SUBCLASSOF = RDFS_NS + "subClassOf"
RDFS_SUBPROPERTYOF = RDFS_NS + "subPropertyOf"
OWL_EQUIVCLASS = OWL_NS + "equivalentClass"
OWL_EQUIVPROP = OWL_NS + "equivalentProperty"

# rdfa: vocabulary terms used by the engine
# (/root/reference/lib/rdf/rdfa/vocab.rb:75-157)
RDFA_USESVOCABULARY = RDFA_NS + "usesVocabulary"
RDFA_COPY = RDFA_NS + "copy"
RDFA_PATTERN = RDFA_NS + "Pattern"
RDFA_INFO = RDFA_NS + "Info"
RDFA_WARNING = RDFA_NS + "Warning"
RDFA_ERROR = RDFA_NS + "Error"
RDFA_PREFIX_REDEFINITION = RDFA_NS + "PrefixRedefinition"
RDFA_UNRESOLVED_CURIE = RDFA_NS + "UnresolvedCURIE"
RDFA_UNRESOLVED_TERM = RDFA_NS + "UnresolvedTerm"
RDFA_CONTEXT_PRED = RDFA_NS + "context"
DC_DESCRIPTION = DC_NS + "description"

XHV_ROLE = XHV_NS + "role"

XSD_STRING = XSD_NS + "string"
XSD_INTEGER = XSD_NS + "integer"
XSD_DECIMAL = XSD_NS + "decimal"
XSD_DOUBLE = XSD_NS + "double"
XSD_DATE = XSD_NS + "date"
XSD_TIME = XSD_NS + "time"
XSD_DATETIME = XSD_NS + "dateTime"
XSD_GYEAR = XSD_NS + "gYear"
XSD_GYEARMONTH = XSD_NS + "gYearMonth"
XSD_DURATION = XSD_NS + "duration"
