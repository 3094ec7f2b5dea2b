"""Pages 4e-7 deg west of the fixture world's Alpha|Bravo (x=30) and
Hotel|Alpha (x=20) edges. They are off the 1e-6 grid and land on the edge
only after the precision-model snap, so a path on raw doubles and one on
snapped coordinates disagree on them; every assignment path must return
the snapped point's zone."""

import pandas as pd

# url -> (page text, tzid of the snapped point)
OFF_GRID_PAGES = {
    "https://offgrid.example/alpha-bravo": ("geo:17.6234567,29.9999996", "Test/Bravo"),
    "https://offgrid.example/hotel-alpha": ("geo:32.6234567,19.9999996", "Test/Alpha"),
}


def off_grid_pages_pdf() -> pd.DataFrame:
    """OFF_GRID_PAGES as rows of the pages-table schema."""
    texts = [t for t, _ in OFF_GRID_PAGES.values()]
    return pd.DataFrame(
        {
            "url": list(OFF_GRID_PAGES),
            "warc_ts": pd.Timestamp("2026-01-02"),
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": "en",
        }
    )


def assert_snapped_zones(tzid_by_url: dict) -> None:
    assert {u: tzid_by_url[u] for u in OFF_GRID_PAGES} == {
        u: tz for u, (_, tz) in OFF_GRID_PAGES.items()
    }
