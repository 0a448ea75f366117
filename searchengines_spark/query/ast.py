"""Logical query AST for the structured Indri-style operator language.

Two node families, mirroring the reference's Qry hierarchy
(/root/reference/QryEval/Qry.java):

- IOP nodes (inverted-list producers): Term, Syn, Near, Window
  (QryIopTerm/Syn/Near/Window.java). All args of an IOP node share one field
  (field propagates child -> parent, Qry.java:153-165).
- SOP nodes (score producers): And, Or, Sum, Wand, Wsum, Score
  (QrySop*.java). A Score node wraps every IOP child of a SOP
  (implicit-SCORE insertion, Qry.java:140-149).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield

DEFAULT_FIELD = "body"  # QryParser.java:149-151


@dataclass
class Node:
    pass


@dataclass
class Term(Node):
    term: str
    field: str = DEFAULT_FIELD


@dataclass
class Syn(Node):
    args: list = dfield(default_factory=list)


@dataclass
class Near(Node):
    n: int = 1
    args: list = dfield(default_factory=list)


@dataclass
class Window(Node):
    n: int = 1
    args: list = dfield(default_factory=list)


@dataclass
class Score(Node):
    arg: Node = None


@dataclass
class And(Node):
    args: list = dfield(default_factory=list)


@dataclass
class Or(Node):
    args: list = dfield(default_factory=list)


@dataclass
class Sum(Node):
    args: list = dfield(default_factory=list)


@dataclass
class Wand(Node):
    weights: list = dfield(default_factory=list)
    args: list = dfield(default_factory=list)


@dataclass
class Wsum(Node):
    weights: list = dfield(default_factory=list)
    args: list = dfield(default_factory=list)


IOP_TYPES = (Term, Syn, Near, Window)


def iop_field(node: Node) -> str:
    """Field of an IOP subtree (all children share it, Qry.java:153-165)."""
    if isinstance(node, Term):
        return node.field
    return iop_field(node.args[0])
