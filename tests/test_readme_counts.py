"""Pin README's registry counts to ``registry.collect()``.

VERDICT r11: the README's "N queries, M with oracles" sentence drifted
three rounds running because it was hand-edited.  This test derives
the true numbers and greps the README for them, so adding a query
without updating the prose fails CI instead of shipping stale counts.
"""

from pathlib import Path

from sleep_edf_data_pipeline_spark import registry

README = Path(__file__).resolve().parents[1] / "README.md"


def test_readme_counts_match_registry():
    queries, oracles = registry.collect()
    text = README.read_text()
    expected = f"{len(queries)} queries, {len(oracles)}\nwith oracles"
    assert expected in text, (
        f"README count sentence stale: expected '{len(queries)} queries, "
        f"{len(oracles)} with oracles' (line-wrapped) — update README.md "
        "alongside the registry"
    )


def test_registry_is_complete():
    """Exact registry size: update explicitly when queries are added."""
    queries, oracles = registry.collect()
    assert len(queries) == 235
    assert len(oracles) == 228
    assert all(name in queries for name in oracles)
