"""Repository benchmark (see NOTES.md)."""
