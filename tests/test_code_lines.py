"""The counting rules of ``tools/code_lines.py``, the code-size figure
quoted for refactors of this repository."""

import os
import sys
import textwrap

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from code_lines import code_lines  # noqa: E402


def _n(src):
    return code_lines(textwrap.dedent(src))


def test_blank_lines_and_comments_are_excluded():
    assert _n("""
        x = 1

        # a comment
            # an indented comment
        y = 2  # a trailing comment keeps the line
    """) == 2


def test_module_class_and_function_docstrings_are_excluded():
    assert _n('''
        """Module docstring,
        on two lines."""

        class A:
            """Class docstring."""

            def f(self):
                """Method docstring
                on two lines."""
                return 1


        def g():
            """Function docstring."""


        async def h():
            """Coroutine docstring."""
            await g()
    ''') == 6


def test_strings_that_are_not_docstrings_are_counted():
    assert _n('''
        def f():
            x = 1
            """a string after the first statement"""
            return """a multi-line
            return value"""

        S = """a module constant
        on two lines"""
    ''') == 7
