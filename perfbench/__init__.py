"""The repository's benchmark: three workloads driven through the
package's public entry points (see README.md)."""
