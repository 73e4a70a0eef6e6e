"""scripts/code_lines.py: what counts as a code line, per-definition
targets, and the command line."""

from __future__ import annotations

import importlib.util
import os

import pytest

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "code_lines.py")
_spec = importlib.util.spec_from_file_location("code_lines", _SCRIPT)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

SOURCE = '''"""Module docstring,
two lines."""

# a comment line

X = 1  # a trailing comment keeps its code line


class Box:
    """Class docstring."""

    def size(self):
        """Method docstring."""
        return 2

    def query(self):
        return """
            SELECT 1
        """
'''


@pytest.fixture
def sample(tmp_path):
    path = tmp_path / "sample.py"
    path.write_text(SOURCE)
    return str(path)


def test_docstrings_comments_and_blank_lines_are_not_code(sample):
    # X, class, def size, return 2, def query, and the 3-line string
    assert code_lines.code_lines(SOURCE) == {6, 9, 12, 14, 16, 17, 18, 19}
    assert code_lines.count(sample) == 8


def test_a_multi_line_string_that_is_no_docstring_counts_every_line():
    src = 'SQL = """\nSELECT a\nFROM t\n"""\n'
    assert code_lines.code_lines(src) == {1, 2, 3, 4}


def test_a_qualified_target_counts_one_definition(sample):
    assert code_lines.count(f"{sample}::Box.size") == 2
    assert code_lines.count(f"{sample}::Box.query") == 4
    assert code_lines.count(f"{sample}::Box") == 7


def test_help_exits_zero_and_a_missing_target_exits_two(sample, capsys):
    with pytest.raises(SystemExit) as e:
        code_lines.main(["--help"])
    assert e.value.code == 0
    assert "Count code lines" in capsys.readouterr().out
    with pytest.raises(SystemExit) as e:
        code_lines.main([sample, "no/such/file.py"])
    assert e.value.code == 2
    assert "no/such/file.py" in capsys.readouterr().err
    with pytest.raises(SystemExit) as e:
        code_lines.main([f"{sample}::Box.nope"])
    assert e.value.code == 2
    assert "Box.nope" in capsys.readouterr().err
