"""Typed exception taxonomy (reference parity: dbt_meshify/exceptions.py).

The reference distinguishes file-editing failures, missing model files, and
a CLI-fatal wrapper that logs its cause before exiting. The engine keeps the
same surface — with each subsystem's richer errors (SplitError,
CompileError, ContractViolation, …) re-exported here so callers have one
import point — and adds the Spark-engine-specific tiers the reference never
needed (it delegated execution to dbt).
"""

from __future__ import annotations

import click

from dbt_meshify_spark.plans.changes import ChangeSetProcessorException
from dbt_meshify_spark.plans.contracts import ContractViolation
from dbt_meshify_spark.plans.grouper import GroupingError
from dbt_meshify_spark.plans.selectors import SelectorError
from dbt_meshify_spark.plans.splitter import SplitError
from dbt_meshify_spark.project.compiler import (
    AccessViolation,
    CompileError,
    SemanticCompileError,
)


class FileEditorException(Exception):
    """Errors in file generation and loading (reference exceptions.py:5-6).

    (The reference subclasses BaseException — almost certainly an accident,
    since BaseException escapes ``except Exception`` handlers the way
    KeyboardInterrupt does; we keep the catchable semantics.)
    """


class ModelFileNotFoundError(FileEditorException):
    """A model's backing file is missing — the manifest may not be valid
    (reference exceptions.py:9-10)."""


class FatalMeshifyException(click.ClickException):
    """An unrecoverable error; logs its cause before the CLI exits
    (reference exceptions.py:13-22)."""

    def show(self, file=None) -> None:
        click.echo(f"error: {self.message}", err=True)
        if self.__cause__ is not None:
            click.echo(f"cause: {self.__cause__!r}", err=True)


__all__ = [
    "AccessViolation",
    "ChangeSetProcessorException",
    "CompileError",
    "ContractViolation",
    "FatalMeshifyException",
    "FileEditorException",
    "GroupingError",
    "ModelFileNotFoundError",
    "SelectorError",
    "SemanticCompileError",
    "SplitError",
]
