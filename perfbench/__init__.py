"""Closed-loop benchmark of the engine's tick and corpus/graph paths (see NOTES.md)."""
