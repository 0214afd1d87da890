"""lakeforge benchmark (see NOTES.md)."""
